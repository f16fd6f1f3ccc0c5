package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Checkpoints
import graft.functions.ShingleMinhashExpr
import graft.io.Ttl
import graft.multimodal.Multimodal
import graft.ops.{Columns, DataTypes, IdTypes, SchemaGen, Stats, TopK}
import graft.ops.ext.{Components, Contamination, Dedup, Events, ExactSubstr, Importance, Packing, Ranking, Sampling, Similarity, Snapshots, TextStats, Web}

/** Driver contract — one query per implemented operator of SURVEY.md §2,
  * each with an equivalent DuckDB oracle SQL over the same parquet tables.
  *
  * Numeric-parity design: float aggregates are computed in exact decimal
  * (`cast(decimal(18,2))`, exact `+`/`*`/`-`) and only the final scalar is
  * cast back to double — both engines then produce bit-identical doubles,
  * so the driver's hash compare is stable. Raw double columns are passed
  * through untouched (same bits in, same bits out). Every query ends in a
  * deterministic total ORDER BY.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts` encoding has varied across testdata
    * generations: parquet TIMESTAMP(NANOS) (no native Spark type — read
    * nanos as long via the legacy flag, `div 1000` to micros) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ).
    * Normalize either to a session-zone TIMESTAMP: the session is pinned
    * to UTC, so casting the naive wall-clock reproduces the epoch-micros
    * instant exactly, and the DuckDB oracles' `epoch(ts)` agrees under
    * both encodings. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Exact 2-decimal fixed-point view of a money/quantity double. */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** URI rendering shared by the triple-synthesis queries (q48-q50). */
  private def uriCol(prefix: String, k: Column): Column =
    concat(lit(prefix), k.cast("string"), lit(">"))

  /** Shared q16/q17 triples: `(doc_id, o, o, "")` as `(s, p, o, lang)`,
    * the object synthesis mirroring the oracle's `mkO` — four RDF object
    * shapes keyed on doc_id: uri / int-typed / custom-typed / plain
    * literal. */
  private def datatypeTriples(s: SparkSession, dir: String): DataFrame = {
    val o = when(col("doc_id") % 4 === 0,
      concat(lit("<http://ex/doc/"), col("doc_id").cast("string"), lit(">")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("\""), col("n_chars").cast("string"),
          lit("\"^^<http://www.w3.org/2001/XMLSchema#integer>")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("\""), col("source"), lit("\"^^<http://ex/custom>")))
      .otherwise(concat(lit("\""), col("lang"), lit("\"")))
    t(s, dir, "documents")
      .select(col("doc_id").as("s"), o.as("p"), o.as("o"), lit("").as("lang"))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_join5")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- A1-A4: grouped aggregation (TPC-H Q1 shape) -------------------
    "q01_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("2000-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- W1 + A1: top-k per group via row_number window ----------------
    "q02_topk_window" -> ((s, dir) => {
      TopK.topKPerGroup(
          t(s, dir, "lineitem"),
          groupCols = Seq(col("l_returnflag")),
          valueCols = Seq(col("l_partkey")),
          k = 5)
        .select(col("l_returnflag"), col("l_partkey"),
          col("count").as("cnt"), col("k").cast("long").as("rnk"))
        .orderBy(col("l_returnflag"), col("rnk"))
    }),

    // ---- J1/J2: left-semi join ----------------------------------------
    "q03_semijoin" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(
          t(s, dir, "lineitem").where(col("l_quantity") > 45),
          col("o_orderkey") === col("l_orderkey"),
          "left_semi")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_total"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- anti join (engine exposes it even though reference has none) --
    "q04_antijoin" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").where(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // ---- J3: multi-way inner join, broadcast dims (TPC-H Q5 shape) -----
    "q05_join5" -> ((s, dir) => {
      val revenue = dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(sum(revenue).cast("double").as("revenue"))
        .orderBy(col("n_name"))
    }),

    // ---- P3-P6: selective filter + scalar aggregate (TPC-H Q6 shape) ---
    "q06_filter_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("double").as("revenue"))
    }),

    // ---- J4: full-outer join of two aggregates (stats assembly shape) --
    "q07_fullouter" -> ((s, dir) => {
      val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_customers"))
      val su = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_suppliers"))
      c.join(su, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
        .orderBy(col("nationkey"))
    }),

    // ---- U1/U3: union + distinct --------------------------------------
    "q08_union_distinct" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .unionByName(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy(col("nationkey"))
    }),

    // ---- O1: global sort + limit --------------------------------------
    "q09_orderby_limit" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // ---- W2: arg-max row per group ------------------------------------
    "q10_argmax" -> ((s, dir) => {
      TopK.argMaxRow(
          t(s, dir, "customer"),
          groupCols = Seq(col("c_nationkey")),
          orderCols = Seq(col("c_acctbal").desc, col("c_custkey")))
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_nationkey"))
    }),

    // ---- A5: distinct -------------------------------------------------
    "q11_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- A4: rollup via union (the reference's en-* stats rollup shape) -
    "q12_rollup_union" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val per = c.groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_cust"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
      val all = c.agg(count(lit(1)).as("n_cust"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
        .select(lit("ALL").as("segment"), col("n_cust"), col("sum_bal"))
      per.unionByName(all).orderBy(col("segment"))
    }),

    // ---- S3: ttl line parse (native split, object may contain spaces) --
    "q13_ttl_parse" -> ((s, dir) => {
      val lines = t(s, dir, "nation").select(
        concat(lit("<http://n/"), col("n_nationkey").cast("string"),
          lit("> <http://p/name> \""), col("n_name"), lit(" x\" .")).as("value"))
      Ttl.parse(lines).toDF().orderBy(col("s"))
    }),

    // ---- F2: deterministic blank-node ids -----------------------------
    "q14_blank_md5" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"), Columns.blank(col("c_name")).as("blank"))
        .orderBy(col("c_custkey"))
    }),

    // ---- F3: language-tag removal -------------------------------------
    "q15_lang_tag" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("\""), col("source"), lit("\"@"), col("lang")).as("tagged"))
        .withColumn("stripped", Columns.removeLangTag(col("tagged")))
        .orderBy(col("doc_id"))
    }),

    // ---- D2: datatype extraction + coercion ---------------------------
    "q16_datatype" -> ((s, dir) => {
      // the pipeline's datatype step over the triple shape: doc_id rides
      // as `s`, the object also as `p`, so both survive the projection
      DataTypes.withDataTypeExact(datatypeTriples(s, dir))
        .select(col("s").as("doc_id"), col("p").as("o"), col("v"), col("t"))
        .orderBy(col("doc_id"))
    }),

    // ---- D3/D4: native map lookup (schema type + index inference) ------
    "q17_typemap" -> ((s, dir) => {
      DataTypes.withDataTypeExact(datatypeTriples(s, dir))
        .select(col("s").as("doc_id"),
          SchemaGen.dgraphDataType(col("t")).as("dtype"))
        .withColumn("dindex", SchemaGen.dgraphIndex(col("dtype")))
        .orderBy(col("doc_id"))
    }),

    // ---- W1+J1 composition: the reference's top-k predicate pipeline ---
    "q18_topk_pipeline" -> ((s, dir) => {
      // round-20 optimization (guide §2.3 "aggregate before you shuffle"):
      // the final answer is a per-lang count of surviving rows, and
      // survival is decided PER (p, lang) GROUP — so aggregate the fact
      // table to (lang, p, cnt) ONCE and run the ranking, the top-k semi
      // join (filterToTopK unchanged, J1), and the final rollup
      // (sum(cnt) ≡ count of surviving rows) over that tiny table. The
      // old shape cached 600k synthesized string rows and streamed them
      // through the semi join and a second aggregate; this shape's only
      // corpus-sized work is one partial-aggregated pass off the scan.
      // Equivalence is group-level (node-lang is a function of lang
      // alone) and oracle-verified; the cached cnt table is
      // #langs × #predicates rows.
      val cnt = Checkpoints.persist(t(s, dir, "lineitem").select(
          concat(lit("<http://p/"), (col("l_suppkey") % 20).cast("string"), lit(">")).as("p"),
          lower(concat(col("l_returnflag"), col("l_linestatus"))).as("lang"))
        .groupBy(col("lang"), col("p")).agg(count(lit(1)).as("cnt")))
      // the same (count desc, p asc) row_number ranking topKPredicatesPerLang
      // runs — fed by the pre-aggregated counts instead of re-counting
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("p").asc)
      val top = cnt.where(!col("lang").contains("-"))
        .withColumn("k", row_number().over(w)).where(col("k") <= 3)
        .select(col("p"), col("lang"))
      TopK.filterToTopK(cnt, top)
        .groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
        .orderBy(col("lang"))
    }),

    // ---- D2+W2+J2 composition: datatype disambiguation pipeline --------
    "q19_disambig" -> ((s, dir) => {
      val triples = t(s, dir, "orders").select(
        concat(lit("<http://s/"), col("o_orderkey").cast("string"), lit(">")).as("s"),
        concat(lit("<http://p/"), (col("o_custkey") % 10).cast("string"), lit(">")).as("p"),
        when(col("o_orderkey") % 3 === 0,
          concat(lit("\""), col("o_orderkey").cast("string"),
            lit("\"^^<http://www.w3.org/2001/XMLSchema#integer>")))
          .when(col("o_orderkey") % 3 === 1,
            concat(lit("\"txt"), col("o_orderkey").cast("string"), lit("\"")))
          .otherwise(concat(lit("<http://ex/"), col("o_orderkey").cast("string"), lit(">")))
          .as("o"),
        lit("en").as("lang"))
      // cache: the extraction feeds both the winning-type aggregate and the
      // semi join — one extraction pass instead of two (at cluster scale
      // with an unbounded fact table you'd recompute like the reference;
      // here the disambiguation input is bounded)
      val withTypes = Checkpoints.persist(DataTypes.withDataTypeExact(triples))
      val winning = DataTypes.mostFrequentTypePerPredicate(withTypes)
      DataTypes.disambiguate(withTypes, winning)
        .select(col("s"), col("p"),
          DataTypes.renderObject(col("v"), col("t")).as("o"))
        .orderBy(col("s"), col("p"))
    }),

    // ---- F6/F8/F9: geojson synthesis (array swap, cast, to_json) -------
    "q31_geojson" -> ((s, dir) => {
      val triples = t(s, dir, "part").select(
        concat(lit("<http://part/"), col("p_partkey").cast("string"), lit(">")).as("s"),
        lit("<http://www.georss.org/georss/point>").as("p"),
        concat(lit("\""), col("p_retailprice").cast("string"), lit(" "),
          col("p_size").cast("string"), lit("\"")).as("o"),
        lit("en").as("lang"))
      graft.ops.GeoJson.pointsToGeoJson(triples)
        .select(col("s"), col("o"))
        .orderBy(col("s"))
    }),

    // ---- D1: node-language extraction with the dbpedia quirk -----------
    "q32_nodelang" -> ((s, dir) => {
      val langs = array(lit("de"), lit("fr"), lit("en"), lit("es"), lit("zh"))
      val o = when(col("c_custkey") % 7 === 0,
          concat(lit("<http://dbpedia.org/resource/R"), col("c_custkey").cast("string"), lit(">")))
        .otherwise(concat(lit("<http://"),
          element_at(langs, (col("c_custkey") % 5).cast("int") + 1),
          lit(".dbpedia.org/resource/R"), col("c_custkey").cast("string"), lit(">")))
      val objectLangs = graft.ops.Languages.objectLanguages(
        Some(Seq("de", "fr", "en")), Seq.empty) // de, fr, en + dbpedia quirk
      t(s, dir, "customer")
        .select(o.as("o"))
        .withColumn("node_lang", Columns.nodeLang(col("o")))
        .where(col("node_lang").isin(objectLangs: _*))
        .groupBy(col("node_lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("node_lang"))
    }),

    // ---- A6 at scale: HLL approximate distinct (no SQL oracle — HLL
    // sketches differ per engine; driver records rows-only) --------------
    "q33_approx_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_suppkey")).as("approx_supps"))
    }),

    // ---- S9/D3/D4 composition: full schema relation generation ---------
    "q34_schema_gen" -> ((s, dir) => {
      val langs = array(lit("de"), lit("en-de"), lit("fr"))
      val triples = t(s, dir, "part").select(
        concat(lit("<http://s/"), col("p_partkey").cast("string"), lit(">")).as("s"),
        concat(lit("<http://p/"), (col("p_partkey") % 8).cast("string"), lit(">")).as("p"),
        when(col("p_partkey") % 3 === 0,
          concat(lit("\""), col("p_size").cast("string"),
            lit("\"^^<http://www.w3.org/2001/XMLSchema#integer>")))
          .when(col("p_partkey") % 3 === 1, concat(lit("\""), col("p_brand"), lit("\"")))
          .otherwise(concat(lit("<http://o/"), col("p_partkey").cast("string"), lit(">")))
          .as("o"),
        element_at(langs, (col("p_partkey") % 3).cast("int") + 1).as("lang"))
      val withTypes = DataTypes.withDataTypeExact(triples)
      val winning = DataTypes.mostFrequentTypePerPredicate(withTypes)
      SchemaGen.schema(s, triples, winning, langTag = " @lang", externaliseUris = true)
        .orderBy(col("dataset"), col("p"), col("lang"), col("t"), col("i"))
    }),

    // ---- J4/U2/A4 composition: wide per-language stats with rollup -----
    "q35_stats_perlang" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("lang",
          when(col("lang").isin("zh", "de"), concat(lit("en-"), col("lang")))
            .otherwise(col("lang")))
      val d1 = docs
      val d2 = docs.where(col("doc_id") % 2 === 0)
      val d3 = docs.where(col("source").isin("src0", "src1", "src2"))
      graft.ops.Stats.withEnRollup(graft.ops.Stats.perLanguage(s,
        Seq("all_docs" -> d1, "even_docs" -> d2, "early_src" -> d3)))
    }),

    // ---- BPE-ish subword counting --------------------------------------
    "q36_subwords" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.subwordCount(col("text")).cast("long").as("n_subwords"),
          TextStats.tokenCount(col("text")).cast("long").as("n_ws_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- SRP LSH bucket assignment (the ANN scale path) ----------------
    "q37_srp_buckets" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .where(col("vec_id") < 100)
        .select(col("vec_id"),
          Similarity.srpBucket(col("embedding"), 8).as("bucket"))
        .orderBy(col("vec_id"))
    }),

    // ---- inner range join (equi key + interval predicate) --------------
    "q38_range_join" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- as-of join (union + carry-forward window; one shuffle) --------
    "q39_asof" -> ((s, dir) => {
      val left = events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
      val right = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("o_totalprice"))
      graft.ops.AsOfJoin.asOf(left, right, "user_id", "ts", "o_orderdate",
          Seq("o_totalprice"))
        .select(col("event_id"), col("asof_o_totalprice"))
        .orderBy(col("event_id"))
    }),

    // ---- embedding-cosine near-dup pairs (SRP prefilter + threshold) ---
    "q40_embedding_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("vec_id") < 200)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.embeddingNearDupPairs(e, planes = 4, threshold = 0.2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- character-shingle MinHash (codegen'd Catalyst expression) -----
    "q41_shingle_minhash" -> ((s, dir) => {
      // ShingleMinhashExpr computes both 64-bit minima in one generated
      // loop over the text bytes — same semantics as the interpreted
      // Dedup.minhashPair(Dedup.shingles(_, 5)) composition (equivalence
      // held by ShingleMinhashExprSpec), ~2 orders of magnitude faster
      // (the interpreted form was 88.9s of the 210s round-1 bench).
      // Texts shorter than 5 chars yield a null struct -> null sh0/sh1.
      t(s, dir, "documents")
        .select(col("doc_id"),
          ShingleMinhashExpr.shingle_minhash(col("text"), 5).as("m"))
        .select(col("doc_id"), col("m.a").as("sh0"), col("m.b").as("sh1"))
        .orderBy(col("doc_id"))
    }),

    // ---- IVF ANN: centroid-bucketed top-k ------------------------------
    "q42_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfTopK(e, e.where(col("id") < 5), numCentroids = 8, k = 3, nprobe = 2)
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy(col("q_id"), col("rnk"))
    }),

    // ---- skew-salted join (hot-key mitigation; result == plain join) ---
    "q43_salted_join" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").select(col("l_suppkey").as("suppkey"),
        col("l_orderkey"), col("l_quantity"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey").as("suppkey"), col("s_name"))
      graft.ops.Skew.saltedJoin(l, sup, "suppkey", factor = 8,
          entropyCols = Seq("l_orderkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy(col("s_name"))
    }),

    // ---- grouping sets: cube over two dims -----------------------------
    "q44_cube" -> ((s, dir) => {
      // round-20 optimization: pre-aggregate by the full (flag, status)
      // key BEFORE the cube (guide §2.3) — Expand otherwise multiplies
      // every fact row by the 4 grouping sets ahead of the partial
      // aggregate. count/sum are algebraic, so cube-over-subtotals is
      // row-identical to cube-over-rows (sum of exact decimal partials,
      // count as sum of counts); Expand now runs over ≤ |flag×status|
      // rows instead of 4× the table
      val base = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("_n"), sum(dec(col("l_quantity"))).as("_s"))
      base.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("_n")).as("n"),
          sum(col("_s")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // ---- pivot (dynamic columns from a known domain) -------------------
    "q45_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(dec(col("l_quantity"))).cast("double"))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
        .orderBy(col("l_returnflag"))
    }),

    // ---- generator / explode: token frequencies ------------------------
    "q46_explode" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(Dedup.tokens(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    }),

    // ---- set ops: intersect / except -----------------------------------
    "q47_setops" -> ((s, dir) => {
      val withOrders = t(s, dir, "orders").select(col("o_custkey").as("custkey")).distinct()
      val rich = t(s, dir, "customer").where(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey"))
      val both = withOrders.intersect(rich).withColumn("side", lit("both"))
      val ordersOnly = withOrders.except(rich).withColumn("side", lit("orders_only"))
      both.unionByName(ordersOnly).orderBy(col("side"), col("custkey"))
    }),

    // ---- external-id (xid) synthesis: distinct-union + md5 projection --
    "q48_external_ids" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val sup = t(s, dir, "supplier")
      // rolesAggregate's type flags read `p`: frames without one get a
      // constant valid predicate (the xids do not depend on it)
      val p = lit("<p>").as("p")
      val labels = n.select(uriCol("<http://de.dbpedia.org/resource/R", col("n_nationkey")).as("s"),
        p, lit("de").as("lang"))
      val infobox = n.where(col("n_nationkey") % 2 === 0)
        .select(uriCol("<http://de.dbpedia.org/resource/R", col("n_nationkey")).as("s"),
          p, lit("de").as("lang"))
      val interlang = sup.select(
        uriCol("<http://de.dbpedia.org/resource/R", col("s_suppkey") % 10).as("s"),
        p, uriCol("<http://fr.dbpedia.org/resource/Q", col("s_suppkey")).as("o"),
        lit("de").as("lang"))
      val pageLinks = sup.select(
        uriCol("<http://de.dbpedia.org/resource/R", col("s_suppkey")).as("s"),
        p, uriCol("<http://de.dbpedia.org/resource/R", col("s_suppkey") % 3).as("o"),
        lit("de").as("lang"))
      val categories = n.where(col("n_nationkey") % 3 === 0).select(
        uriCol("<http://de.dbpedia.org/resource/R", col("n_nationkey")).as("s"),
        p, uriCol("<http://de.dbpedia.org/resource/Cat", col("n_nationkey")).as("o"),
        lit("de").as("lang"))
      val skos = n.select(
        uriCol("<http://de.dbpedia.org/resource/Cat", col("n_nationkey")).as("s"),
        when(col("n_nationkey") % 2 === 0, IdTypes.SkosRelated)
          .otherwise(graft.ops.Cleanup.SkosPrefLabel).as("p"),
        uriCol("<http://de.dbpedia.org/resource/Cat", col("n_nationkey") % 7).as("o"),
        lit("de").as("lang"))
      val geo = n.where(col("n_nationkey") % 5 === 0)
        .select(uriCol("<http://de.dbpedia.org/resource/R", col("n_nationkey")).as("s"),
          p, lit("de").as("lang"))
      // no disambiguation here: every infobox row survives
      IdTypes.xids(IdTypes.rolesAggregate(s, labels, infobox, infobox, interlang,
          pageLinks, categories, skos, geo))
        .orderBy(col("s"), col("o"), col("lang"))
    }),

    // ---- dgraph.type triple generation ---------------------------------
    "q49_types" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      // constant valid `p` for the type flags (see q48)
      val p = lit("<p>").as("p")
      def frame(pred: Column => Column) = n.select(
        uriCol("<http://de.dbpedia.org/resource/R", pred(col("n_nationkey"))).as("s"),
        p, uriCol("<http://de.dbpedia.org/resource/R", col("n_nationkey")).as("o"),
        lit("de").as("lang"))
      val labels = frame(k => k)
      val infobox = frame(k => k % 7)
      val interlang = frame(k => k % 5)
      val pageLinks = frame(k => k % 3)
      val categories = n.select(
        uriCol("<http://de.dbpedia.org/resource/R", col("n_nationkey")).as("s"),
        p, uriCol("<http://de.dbpedia.org/resource/Cat", col("n_nationkey") % 4).as("o"),
        lit("de").as("lang"))
      val skos = n.where(col("n_nationkey") % 2 === 0).select(
        uriCol("<http://de.dbpedia.org/resource/Cat", col("n_nationkey") % 4).as("s"),
        p, uriCol("<http://de.dbpedia.org/resource/Cat", col("n_nationkey") % 2).as("o"),
        lit("de").as("lang"))
      val geo = frame(k => k % 11)
      IdTypes.types(IdTypes.rolesAggregate(s, labels, infobox, infobox, interlang,
          pageLinks, categories, skos, geo), externaliseUris = false)
        .orderBy(col("s"), col("o"))
    }),

    // ---- skos cleanup: conditional blanking + lang-tag strip -----------
    "q50_skos_cleanup" -> ((s, dir) => {
      val prefLabel = graft.ops.Cleanup.SkosPrefLabel
      val triples = t(s, dir, "nation").select(
        concat(lit("<http://de.dbpedia.org/resource/Cat"),
          col("n_nationkey").cast("string"), lit(">")).as("s"),
        when(col("n_nationkey") % 2 === 0, prefLabel)
          .otherwise(IdTypes.SkosBroader).as("p"),
        when(col("n_nationkey") % 2 === 0,
          concat(lit("\""), col("n_name"), lit("\"@de")))
          .otherwise(concat(lit("<http://de.dbpedia.org/resource/Cat"),
            (col("n_nationkey") % 5).cast("string"), lit(">"))).as("o"),
        lit("de").as("lang"))
      graft.ops.Cleanup.skos(triples, externaliseUris = true, removeLanguageTags = true)
        .orderBy(col("s"), col("p"), col("o"))
    }),

    // ---- analytic window frames: running sum, lag, dense_rank ----------
    "q51_window_analytics" -> ((s, dir) => {
      val byCust = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val running = byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .where(col("o_custkey") < 30)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec(col("o_totalprice"))).over(running).cast("double").as("running_total"),
          lag(col("o_orderkey"), 1).over(byCust).as("prev_orderkey"),
          dense_rank().over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderpriority"))).cast("long").as("prio_rank"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ==== training-data pipeline extension ops ==========================

    // ---- exact dedup: hash-groupBy on content hash --------------------
    "q20_dedup_exact" -> ((s, dir) => {
      Dedup.exactDupGroups(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("content_hash"))
    }),

    // ---- MinHash signatures -------------------------------------------
    "q21_minhash" -> ((s, dir) => {
      Dedup.withMinhashSignature(t(s, dir, "documents"), col("text"), 4)
        .select(col("doc_id"), col("mh0"), col("mh1"), col("mh2"), col("mh3"))
        .orderBy(col("doc_id"))
    }),

    // ---- LSH banding: candidate duplicate pairs -----------------------
    "q22_lsh_pairs" -> ((s, dir) => {
      // cap 1000 = the production skew guard; at verify scale (sf0.01) no
      // bucket exceeds it, so the capped and uncapped results coincide —
      // the oracle carries the same HAVING clause
      val sig = Dedup.withMinhashSignature(t(s, dir, "documents"), col("text"), 2)
      Dedup.lshCandidatePairs(sig, "doc_id", Seq("mh0", "mh1"),
          maxBucketSize = Some(1000),
          persistSignatures = true) // kernel once, not census+2 sides
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- SimHash fingerprints (codegen'd kernel) ----------------------
    "q23_simhash" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhashText(col("text")).as("simhash"))
        .orderBy(col("doc_id"))
    }),

    // ---- n-gram (token-set) Jaccard near-dup pairs, LSH-prefiltered ----
    "q24_jaccard" -> ((s, dir) => {
      // The scalable near-dup shape: exact Jaccard runs ONLY on MinHash-LSH
      // band candidates, with the degenerate-bucket guard capping any
      // boilerplate bucket — candidate pairs are <= n*cap/2, linear in
      // corpus size (the previous all-pairs-per-source join grew
      // quadratically: 10,000x more pairs at 100x the data). Distinct
      // int-hashed token sets (codegen'd TokenHashSetExpr — the plan
      // evaluates the per-doc set once per join side, so the kernel vs
      // interpreted difference is ~4s at sf0.1) are computed once per
      // document BELOW the join and carried through the single band-key
      // shuffle.
      val sig = Dedup.withMinhashSignature(t(s, dir, "documents"), col("text"), 2)
        .select(col("doc_id"), col("mh0"), col("mh1"),
          graft.functions.TokenHashSetExpr.token_hash_set(col("text")).as("toks"))
      Dedup.lshJaccardPairs(sig, "doc_id", Seq("mh0", "mh1"), "toks",
          threshold = 0.5, maxBucketSize = Some(1000),
          // census + guard + both join sides re-plan the two kernels
          // otherwise — measured 1.22 -> 0.71 s here (q144's big-set/
          // few-candidate shape measured the OPPOSITE; its flag stays off)
          persistSignatures = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- winnowing fingerprints (MOSS local fingerprinting) ------------
    "q56_winnow" -> ((s, dir) => {
      // sub-projection so the kernel evaluates once per row (CollapseProject
      // refuses to inline a non-cheap expression referenced twice)
      t(s, dir, "documents")
        .withColumn("_fp", TextStats.winnowFingerprint(col("text"), k = 5, w = 8))
        .select(col("doc_id"),
          when(col("_fp").isNotNull, size(col("_fp"))).cast("long").as("n_fp"),
          when(col("_fp").isNotNull,
            md5(concat_ws(",", transform(col("_fp"), x => x.cast("string"))))).as("fp_digest"))
        .orderBy(col("doc_id"))
    }),

    // ---- winnowing candidate pairs (substring-match near-dup) ----------
    "q57_winnow_pairs" -> ((s, dir) => {
      // cache the fingerprint table (the expensive per-doc artifact): the
      // pair operator's census + both join sides read it four times, and
      // unlike q24's cheap minhash the winnow kernel dominates — caching
      // measured 4.5s -> 3.5s at sf0.1 (same pattern as q18's cached
      // top-k relation). Lifetime: a query builder can't unpersist after
      // its own (later, caller-driven) materialization, so release is the
      // harness's job — Verify/Bench clearCache() before every query, and
      // library callers own the returned plan's caches the same way.
      val fps = Checkpoints.persist(t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.winnowFingerprint(col("text"), k = 5, w = 8).as("_fp")))
      Dedup.winnowCandidatePairs(fps, "doc_id", col("_fp"), maxBucketSize = Some(50))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup clusters: connected components over the pair graph ------
    "q58_dedup_clusters" -> ((s, dir) => {
      // pairs are not transitive: A~B, B~C must collapse {A,B,C} even when
      // A~C was never a candidate — min-label connected components over
      // the guarded LSH pair graph assign every doc its component's min
      // doc_id as canonical (Components.dedupClusters); a dedup keep-list
      // is then `WHERE doc_id = canonical_id`
      val docs = t(s, dir, "documents")
      val sig = Dedup.withMinhashSignature(docs, col("text"), 2)
      val pairs = Dedup.lshCandidatePairs(sig, "doc_id", Seq("mh0", "mh1"),
        maxBucketSize = Some(1000),
        persistSignatures = true) // kernel once, not census+2 sides (r20 A/B)
      Components.dedupClusters(docs, pairs)
        .orderBy(col("doc_id"))
    }),

    // ---- benchmark decontamination: n-gram overlap semi join -----------
    "q59_decontaminate" -> ((s, dir) => {
      // every 37th document plays the eval set; the corpus is the rest.
      // The benchmark's distinct 8-gram set broadcasts; corpus n-grams
      // explode map-side straight into the broadcast join — the corpus
      // n-gram list is never shuffled
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 37 === 0)
      val corpus = docs.where(col("doc_id") % 37 =!= 0)
      Contamination.contaminationHits(
          corpus, col("text"), "doc_id", bench, col("text"), n = 8)
        .orderBy(col("doc_id"))
    }),

    // ---- exact duplicate-substring spans (Lee et al. 2022) -------------
    "q65_exact_substr" -> ((s, dir) => {
      // maximal token spans covered by 16-token windows whose exact
      // content occurs >= 2 times corpus-wide (incl. within one doc) —
      // the relational ExactSubstr dedup: pass 1 counts window hashes
      // (map-side partial agg on longs), pass 2 joins positions back and
      // merges islands per doc. No suffix array, no index build
      ExactSubstr.duplicatedSpans(t(s, dir, "documents"), col("text"), k = 16)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // ---- deterministic stratified sampling (hash, not rand) ------------
    "q60_stratified_sample" -> ((s, dir) => {
      // per-language downsampling with an identity-keyed hash: the same
      // doc is in or out regardless of partitioning, run, or engine —
      // reproducible corpus curation (and exactly mirrorable in DuckDB,
      // unlike rand())
      Sampling.stratifiedSample(t(s, dir, "documents"),
          key = col("doc_id"), stratum = col("lang"),
          rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // ---- PII pattern counts (redaction/filter policy input) ------------
    "q61_pii" -> ((s, dir) => {
      // deterministic synthetic PII injected per doc_id so the matchers
      // are exercised on real hits (the corpus text has none); the oracle
      // mirrors the injection exactly. All patterns RE2-safe.
      val injected = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1 and +1 555 0100 "), (col("doc_id") % 100).cast("string")))
          .otherwise(lit("")))
      TextStats.piiCounts(
          t(s, dir, "documents").withColumn("text", injected),
          col("text"), col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- repetition metrics (Gopher-style repetition filters) ----------
    "q62_repetition" -> ((s, dir) => {
      // per-row fold over the sorted token array — map-side and
      // scan-bound, where the relational formulation (explode + groupBy
      // (doc, token)) would shuffle the whole token stream; the DuckDB
      // oracle uses exactly that relational form, making the fold's
      // equivalence part of the gate
      TextStats.withRepetition(t(s, dir, "documents"), col("text"))
        .select(col("doc_id"), col("distinct_ratio"), col("top_token_frac"))
        .orderBy(col("doc_id"))
    }),

    // ---- token-budget sharding: exact distributed prefix sum -----------
    "q63_token_shards" -> ((s, dir) => {
      // pack docs into ~50k-token shards per language in (lang, doc_id)
      // order — computed by the two-phase distributed scan (Packing), NOT
      // a Window.partitionBy(lang) cumsum that would funnel each language
      // through one task; the oracle is that window formulation in SQL,
      // making the equivalence part of the gate
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.tokenShards(docs, "doc_id", "lang", "n_tok", budget = 50000)
        .select(col("id").as("doc_id"), col("stratum").as("lang"),
          col("n").as("n_tok"), col("running"), col("shard"))
        .orderBy(col("doc_id"))
    }),

    // ---- dedup clusters over the salted single-band pair graph --------
    "q64_cc_star" -> ((s, dir) => {
      // hash-to-min CC (`Components.dedupClusters`) over the SALTED
      // single-band pair graph (q55's edge set — sub-bucket cliques
      // chained through shared docs make a deeper graph than q58's), under
      // q58's recursive-CTE oracle shape. The roster name predates the
      // deletion of the large-star/small-star engine
      Checkpoints.scoped {
        val docs = t(s, dir, "documents")
        val sig = Dedup.withMinhashSignature(docs, col("text"), 1)
        val pairs = Dedup.lshCandidatePairs(sig, "doc_id", Seq("mh0"),
          maxBucketSize = Some(100), saltOversized = true,
          persistSignatures = true)
        Components.dedupClusters(docs, pairs)
          .orderBy(col("doc_id"))
      }
    }),

    // ---- LSH salted guard: oversized buckets split, not dropped --------
    "q55_lsh_salted" -> ((s, dir) => {
      // the salting alternative to q53's drop: the boilerplate mega-bucket
      // splits into ceil(size/cap) deterministic sub-buckets, so cost
      // stays bounded while in-bucket pairs partially survive
      val sig = Dedup.withMinhashSignature(t(s, dir, "documents"), col("text"), 1)
      Dedup.lshCandidatePairs(sig, "doc_id", Seq("mh0"),
          maxBucketSize = Some(100), saltOversized = true,
          persistSignatures = true) // kernel once, not census+2 sides
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- multimodal metadata plans: resize targets + frame sampling ----
    "q52_multimodal_plan" -> ((s, dir) => {
      // resizePlan and sampleFrames are pure metadata math over the typed
      // media schema — here driven by a deterministic media view of the
      // documents table so DuckDB can reproduce them (content bytes stay
      // NULL; the decode plane is exercised by MultimodalSpec)
      val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
      val resize = Multimodal.resizePlan(media, maxDim = 512)
        .select(col("media_id"), lit("resize").as("op"),
          col("target_width").cast("long").as("p1"),
          col("target_height").cast("long").as("p2"))
      val frames = Multimodal.sampleFrames(media, everyMs = 2500)
        .select(col("media_id"), lit("frame").as("op"),
          col("frame_ms").as("p1"), lit(null).cast("long").as("p2"))
      resize.unionByName(frames)
        .orderBy(col("media_id"), col("op"), col("p1"))
    }),

    // ---- multimodal decode plane: mapPartitions feature extraction -----
    "q54_multimodal_features" -> ((s, dir) => {
      // exercises the REAL batch boundary (typed Dataset -> mapPartitions
      // with per-partition codec init) under the oracle gate: the stub
      // codec's md5-seeded embedding is pure deterministic math DuckDB can
      // reproduce byte-for-byte ((b-128)/128 is exact in both float and
      // double — power-of-two denominator)
      val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
      Multimodal.extractFeatures(media, dims = 16).toDF()
        .select(col("media_id"), col("modality"), col("n_bytes"),
          element_at(col("embedding"), 1).cast("double").as("e0"),
          element_at(col("embedding"), 2).cast("double").as("e1"),
          element_at(col("embedding"), 3).cast("double").as("e2"))
        .orderBy(col("media_id"))
    }),

    // ---- LSH degenerate-bucket guard (multi-band, capped) --------------
    "q53_lsh_guard" -> ((s, dir) => {
      // Two single-hash bands with a low cap: the synthetic corpus has a
      // boilerplate mega-bucket in every band, so the guard visibly drops
      // it while the healthy buckets still produce their pairs — the
      // behavior is oracle-gated, not just spec'd.
      val sig = Dedup.withMinhashSignature(t(s, dir, "documents"), col("text"), 2)
      Dedup.lshCandidatePairsMultiBand(sig, "doc_id",
          Seq(Seq("mh0"), Seq("mh1")), maxBucketSize = Some(100),
          persistSignatures = true) // kernel once, not 2 legs x 3 refs
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- brute-force cosine top-k ANN baseline ------------------------
    "q25_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.cosineTopK(e.where(col("id") < 5), e, k = 3)
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy(col("q_id"), col("rnk"))
    }),

    // ---- language-ID heuristic ----------------------------------------
    "q26_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TextStats.langId(col("text")).as("lang_guess"))
        .orderBy(col("doc_id"))
    }),

    // ---- quality scoring ----------------------------------------------
    "q27_quality" -> ((s, dir) => {
      TextStats.withQuality(t(s, dir, "documents"), col("text"),
          TextStats.langMarkers.head._2)
        .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
          col("stopword_ratio"), col("alpha_ratio"))
        .orderBy(col("doc_id"))
    }),

    // ---- document fingerprinting --------------------------------------
    "q28_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // ---- tumbling-window event aggregation ----------------------------
    "q29_events_tumbling" -> ((s, dir) => {
      Events.tumblingAgg(events(s, dir), 3600)
        .orderBy(col("bucket"), col("event_type"))
    }),

    // ---- gap sessionization -------------------------------------------
    "q30_sessions" -> ((s, dir) => {
      Events.sessionize(events(s, dir), 1800)
        .orderBy(col("user_id"))
    }),

    // ---- semantic dedup: cosine near-dup clusters, min-id canonical ----
    "q66_semdedup" -> ((s, dir) => {
      // SemDedup over embeddings: q40's SRP-prefiltered cosine pairs
      // closed into clusters (near-dup is not transitive), each cluster
      // keeping its min-id vector — kept=1 rows are the dedup keep-list
      val e = t(s, dir, "embeddings")
        .where(col("vec_id") < 200)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.semanticDedup(e, planes = 4, threshold = 0.2)
        .orderBy(col("id"))
    }),

    // ---- tf-idf top terms per document --------------------------------
    "q67_tfidf" -> ((s, dir) => {
      // integer-scaled idf (score = tf * ((1e6 * N) div df), all BIGINT):
      // rank-equivalent to ln-idf at fixed tf, and exactly reproducible
      // cross-engine where float ln's last-ulp differences flip near-ties
      TextStats.tfIdfTopTerms(t(s, dir, "documents"), col("text"), "doc_id", k = 3)
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // ---- bloom-prefiltered decontamination -----------------------------
    "q68_bloom_decontaminate" -> ((s, dir) => {
      // map-side Bloom bit-test (pure Column ops — codegen'd, no UDF)
      // gates the exact n-gram confirm join; no false negatives, so the
      // result is IDENTICAL to exact decontamination and the oracle is the
      // exact SQL. Every 23rd doc plays the benchmark.
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 23 === 0)
      val corpus = docs.where(col("doc_id") % 23 =!= 0)
      Contamination.decontaminateBloom(
          corpus, col("text"), "doc_id", bench, col("text"), n = 6)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- per-source quality gate (C4-style domain filtering) -----------
    "q69_source_gate" -> ((s, dir) => {
      // documents are kept by their SOURCE's aggregate quality (ratio of
      // sums in integer basis points), not their own text — the gate that
      // drops boilerplate domains wholesale
      TextStats.sourceQualityFilter(t(s, dir, "documents"), col("text"),
          "doc_id", "source", minDocs = 20, minAlphaBp = 8210)
        .orderBy(col("doc_id"))
    }),

    // ---- incremental cross-corpus dedup --------------------------------
    "q70_dedup_incremental" -> ((s, dir) => {
      // ingestion-time dedup: new-batch docs (every 11th) whose minhash
      // band keys match the standing corpus in ANY band are dropped; the
      // corpus contributes only distinct tagged band keys, never text.
      // One 4-hash band — selective enough on this boilerplate-heavy
      // corpus that a non-trivial survivor set exercises both outcomes
      val sig = Dedup.withMinhashSignature(t(s, dir, "documents"), col("text"), 4)
      val newBatch = sig.where(col("doc_id") % 11 === 0)
      val corpus = sig.where(col("doc_id") % 11 =!= 0)
      Dedup.dedupAgainstCorpus(newBatch, corpus, "doc_id",
          Seq(Seq("mh0", "mh1", "mh2", "mh3")))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- int8 scalar quantization report -------------------------------
    "q71_quantize" -> ((s, dir) => {
      // power-of-two scale makes codes and clip counts integer-exact in
      // double arithmetic; max_abs_err is an order-independent max, so the
      // whole report is engine-portable. Map-side only, scan-bound.
      Similarity.quantizeInt8(
          t(s, dir, "embeddings")
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
          scale = 256)
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"))
    }),

    // ---- end-to-end curation pipeline (capstone composition) -----------
    "q73_curate" -> ((s, dir) => {
      // the full curation pass — source gate -> PII gate -> exact dedup ->
      // guarded near-dup clusters -> decontamination — over a PII-injected
      // pool (q61's deterministic injection, so stage 2 has real hits);
      // every stage's logic is an already-oracled operator, and the oracle
      // chains the same CTE fragments
      val injected = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1 and +1 555 0100 "), (col("doc_id") % 100).cast("string")))
          .otherwise(lit("")))
      val docs = t(s, dir, "documents").withColumn("text", injected)
      val bench = docs.where(col("doc_id") % 37 === 0)
      val pool = docs.where(col("doc_id") % 37 =!= 0)
      graft.pipeline.Curation.curate(pool, col("text"), "doc_id", "source", bench,
          minDocs = 20, minAlphaBp = 8100, numHashes = 2,
          maxBucketSize = 1000, n = 8)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- boilerplate n-gram ranking ------------------------------------
    "q72_boilerplate_ngrams" -> ((s, dir) => {
      // top repeated 3-grams corpus-wide (blocklist source material; the
      // synthetic corpus has no verbatim 8-gram boilerplate, so trigrams
      // carry the signal): partial-agged count on 8-byte hashes,
      // TakeOrdered top-k
      Contamination.topNgrams(t(s, dir, "documents"), col("text"),
          n = 3, minCount = 5, k = 20)
        .orderBy(col("n_occ").desc, col("ngh"))
    }),

    // ---- duplicated-span removal (the ExactSubstr consumer) ------------
    "q74_trim_spans" -> ((s, dir) => {
      // cut q65's spans out of the text — the step Lee et al.'s pipeline
      // actually trains on: tokens inside any duplicated span are dropped
      // and the survivors space-joined (whitespace-normalizing contract,
      // see ExactSubstr.trimSpans). Span table + trim in one plan.
      val docs = t(s, dir, "documents")
      val spans = ExactSubstr.duplicatedSpans(docs, col("text"), k = 16)
      ExactSubstr.trimSpans(docs, col("text"), spans)
        .select(col("doc_id"), col("text_trimmed"))
        .orderBy(col("doc_id"))
    }),

    // ---- shuffle-confirm Bloom decontamination (huge-benchmark path) ---
    "q75_bloom_join_decontaminate" -> ((s, dir) => {
      // the benchmark-too-large-to-broadcast form: bit array built
      // DISTRIBUTED (driver never holds the hash set), confirm is a
      // shuffle semi join. No false negatives, so the result — and the
      // oracle — is exactly q68's (same mod-23 split, n=6).
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 23 === 0)
      val corpus = docs.where(col("doc_id") % 23 =!= 0)
      Contamination.decontaminateBloomJoin(
          corpus, col("text"), "doc_id", bench, col("text"), n = 6)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- unigram rarity (CCNet-style perplexity-proxy quality) ---------
    "q76_unigram_rarity" -> ((s, dir) => {
      // corpus-relative rarity with q67's integer-surrogate trick: per
      // token (1e6 * N) div count against the corpus's own top-V
      // vocabulary, OOV pinned to max rarity — BIGINT end to end, so the
      // score is engine-exact. Top-V cut is a TakeOrdered; corpus stream
      // never shuffles on the token.
      TextStats.unigramRarity(t(s, dir, "documents"), col("text"), "doc_id",
          topV = 100)
        .orderBy(col("doc_id"))
    }),

    // ---- exact-k stratified sampling (eval-set construction) -----------
    "q77_stratified_fixed_k" -> ((s, dir) => {
      // EXACTLY 25 docs per language by identity-hash rank — rate
      // sampling's binomial jitter is what an eval-set build can't have.
      // WindowGroupLimit prunes beyond-rank-k rows before the exchange.
      Sampling.stratifiedFixedK(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          col("doc_id"), col("lang"), k = 25)
        .orderBy(col("doc_id"))
    }),

    // ---- deterministic train/val/test split ----------------------------
    "q78_hash_split" -> ((s, dir) => {
      // identity-keyed split labels: membership is stable across runs,
      // engines, partitionings — and the hash fraction is EXACT double
      // math (32-bit int over 2^32), so the range cuts compare exactly
      Sampling.hashSplit(
          t(s, dir, "documents").select(col("doc_id")),
          col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // ---- product quantization: codes + asymmetric-distance top-k -------
    "q79_pq_encode" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.pqEncode(e, m = 4, numCodes = 16)
        .select(col("id"),
          element_at(col("codes"), 1).cast("long").as("c0"),
          element_at(col("codes"), 2).cast("long").as("c1"),
          element_at(col("codes"), 3).cast("long").as("c2"),
          element_at(col("codes"), 4).cast("long").as("c3"))
        .orderBy(col("id"))
    }),
    "q80_pq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.pqTopK(e, e.where(col("id") < 5), m = 4, numCodes = 16, k = 3)
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy(col("q_id"), col("rnk"))
    }),

    // ---- composed quality gate (Gopher/CCNet rule stack, one operator) -
    "q81_quality_gate" -> ((s, dir) => {
      // q61's PII injection exercises the PII rule on real hits; every
      // verdict is an integer comparison (basis points / scaled counts),
      // so the flags are engine-exact. Thresholds sit inside the corpus's
      // signal distributions so each rule actually splits the data.
      val injected = t(s, dir, "documents").withColumn("text", concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1 and +1 555 0100 "), (col("doc_id") % 100).cast("string")))
          .otherwise(lit(""))))
      TextStats.qualityGate(injected, col("text"), "doc_id",
          TextStats.QualityThresholds(
            minTokens = 20, maxTokens = 100000, minAlphaBp = 8150,
            maxPii = 0, minDistinctBp = 3500, maxTopTokenBp = 1200,
            maxMeanRarity = Some(32000000L), rarityTopV = 100))
        .select(col("doc_id"),
          col("quality.len_ok").cast("long").as("len_ok"),
          col("quality.alpha_ok").cast("long").as("alpha_ok"),
          col("quality.pii_ok").cast("long").as("pii_ok"),
          col("quality.rep_ok").cast("long").as("rep_ok"),
          col("quality.rarity_ok").cast("long").as("rarity_ok"),
          col("quality.pass").cast("long").as("pass"))
        .orderBy(col("doc_id"))
    }),

    // ---- curate with the composed quality gate (q73 ∘ q81) -------------
    "q83_curate_gated" -> ((s, dir) => {
      // q73's full curation pass with stage 2 swapped for the composed
      // quality gate (q81's rule stack, rarity relative to the source-
      // gated pool) — the composition of two already-hash-gated pieces,
      // itself hash-gated
      val injected = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1 and +1 555 0100 "), (col("doc_id") % 100).cast("string")))
          .otherwise(lit("")))
      val docs = t(s, dir, "documents").withColumn("text", injected)
      val bench = docs.where(col("doc_id") % 37 === 0)
      val pool = docs.where(col("doc_id") % 37 =!= 0)
      graft.pipeline.Curation.curate(pool, col("text"), "doc_id", "source", bench,
          minDocs = 20, minAlphaBp = 8100, numHashes = 2,
          maxBucketSize = 1000, n = 8,
          gate = Some(TextStats.QualityThresholds(
            minTokens = 20, maxTokens = 100000, minAlphaBp = 8150,
            maxPii = 0, minDistinctBp = 3500, maxTopTokenBp = 1200,
            maxMeanRarity = Some(32000000L), rarityTopV = 100)))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- IVF-PQ: coarse cells over compressed codes, ADC probing -------
    "q82_ivfpq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfPqTopK(e, e.where(col("id") < 5),
          numCentroids = 8, m = 4, numCodes = 16, k = 3, nprobe = 2)
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy(col("q_id"), col("rnk"))
    }),

    // ---- residual IVF-PQ: codes encode x − centroid (by_residual) ------
    "q84_ivfpq_residual" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfPqResidualTopK(e, e.where(col("id") < 5),
          numCentroids = 8, m = 4, numCodes = 16, k = 3, nprobe = 2)
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy(col("q_id"), col("rnk"))
    }),

    // ---- exact per-group quantiles by rank selection -------------------
    "q85_token_quantiles" -> ((s, dir) => {
      // token-count distribution per language — the thresholds a curation
      // pass cuts against. Rank selection (value at floor(p·(n−1))+1)
      // instead of interpolating percentile: integer-exact, hash-gateable
      graft.ops.Stats.groupQuantiles(t(s, dir, "documents"),
          col("lang"), TextStats.tokenCount(col("text")),
          Seq(0.25, 0.5, 0.75, 0.9))
        .withColumnRenamed("group", "lang")
        .orderBy(col("lang"))
    }),

    // ---- token-budget data mixture (training-mix construction) ---------
    "q86_token_budget_mix" -> ((s, dir) => {
      // per-source token budgets floor(weight · total); identity-hash
      // order within each source; unlisted sources drop out. Budgets are
      // exact dyadic weights so floor() is engine-portable
      Sampling.tokenBudgetMix(t(s, dir, "documents"),
          key = col("doc_id"), source = col("source"),
          tokens = TextStats.tokenCount(col("text")),
          totalBudget = 2000L,
          weights = Map("src0" -> 0.5, "src1" -> 0.25, "src5" -> 0.25))
        .select(col("doc_id"), col("source"), col("mix_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- ANN recall@k: IVF result vs brute-force ground truth ----------
    "q87_ann_recall" -> ((s, dir) => {
      // the eval loop that tunes nprobe/centroid budgets: same corpus,
      // same queries, approximate (q42's IVF config) vs exact (q25's
      // brute cosine), hit counts in integer basis points
      val e = t(s, dir, "embeddings")
        .where(col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = e.where(col("id") < 5)
      val approx = Similarity.ivfTopK(e, queries, numCentroids = 8, k = 3, nprobe = 2)
      val exact = Similarity.cosineTopK(queries, e, 3)
      Similarity.recallAtK(approx, exact, 3).orderBy(col("q_id"))
    }),

    // ---- BPE pair statistics (tokenizer-vocab induction step) ----------
    "q88_bpe_pairs" -> ((s, dir) => {
      // top adjacent-char pairs over the distinct-word frequency table —
      // the argmax of this table is the next BPE merge; (cnt, pair) order
      // is total so the top-N cut is engine-exact
      TextStats.bpePairStats(t(s, dir, "documents"), col("text"), topN = 30)
    }),

    // ---- corpus-level line dedup (C4/RefinedWeb sub-document pass) -----
    "q90_line_dedup" -> ((s, dir) => {
      // the corpus has no newline structure, so deterministic 8-token
      // lines are synthesized first (the q61 injection precedent, oracle
      // mirrors the construction); then every line keeps only its first
      // corpus occurrence and documents are rebuilt in original order
      val toks = Dedup.tokens(col("text"))
      val lined = array_join(
        transform(sequence(lit(0), ((size(toks) - 1) / 8).cast("int")),
          i => array_join(slice(toks, i * 8 + 1, lit(8)), " ")),
        "\n")
      val docs = t(s, dir, "documents").withColumn("text", lined)
      Dedup.dropDuplicateLines(docs, col("text"), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- curate with best-copy election (q73 ∘ q89) --------------------
    "q94_curate_best" -> ((s, dir) => {
      // q73's full pass with stage 4 electing each near-dup cluster's
      // highest-token-count member instead of the min id — the two
      // already-gated pieces composed, itself hash-gated
      val injected = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1 and +1 555 0100 "), (col("doc_id") % 100).cast("string")))
          .otherwise(lit("")))
      val docs = t(s, dir, "documents").withColumn("text", injected)
      val bench = docs.where(col("doc_id") % 37 === 0)
      val pool = docs.where(col("doc_id") % 37 =!= 0)
      graft.pipeline.Curation.curate(pool, col("text"), "doc_id", "source", bench,
          minDocs = 20, minAlphaBp = 8100, numHashes = 2,
          maxBucketSize = 1000, n = 8, keepBest = true)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- bigram conditional rarity (count-based LM quality proxy) ------
    "q93_bigram_rarity" -> ((s, dir) => {
      // inverse P(w2|w1) summed per doc, integer-scaled — flags unusual
      // word TRANSITIONS that unigram rarity (q76) cannot see
      TextStats.bigramRarity(t(s, dir, "documents"), col("text"), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- adaptive quantile gate (q85's thresholds applied) -------------
    "q91_adaptive_cut" -> ((s, dir) => {
      // per-language p25 token-count threshold computed from the corpus
      // itself, broadcast back, map-side cut — how production gates set
      // thresholds (fixed cutoffs are wrong for every language at once)
      val docs = t(s, dir, "documents")
      val ntok = TextStats.tokenCount(col("text")).cast("long")
      val cuts = graft.ops.Stats.groupQuantiles(docs, col("lang"), ntok, Seq(0.25))
        .withColumnRenamed("group", "lang")
      docs.select(col("doc_id"), col("lang"), ntok.as("n_tokens"))
        .join(broadcast(cuts), Seq("lang"))
        .where(col("n_tokens") >= col("p25"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("p25"))
        .orderBy(col("doc_id"))
    }),

    // ---- grouping sets (the general form behind cube/rollup) -----------
    "q92_grouping_sets" -> ((s, dir) => {
      // round-20 optimization: same pre-aggregate-below-Expand rewrite as
      // q44 (guide §2.3) — the 3 grouping sets expand subtotal rows, not
      // fact rows; count/sum re-aggregate exactly over the full-key
      // partials
      val base = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("_n"), sum(dec(col("l_quantity"))).as("_s"))
      base.groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("_n")).as("n"),
          sum(col("_s")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // ---- quality-aware dedup-cluster representatives -------------------
    "q89_cluster_reps" -> ((s, dir) => {
      // q58's clusters, but each cluster elects its highest-token-count
      // member (ties to smaller id) instead of the arbitrary min-id — the
      // keep-the-best-copy semantics of a real curation pass. One band, so
      // the clusters are the guarded buckets (Dedup.bandClusters)
      val docs = t(s, dir, "documents")
      val sig = Dedup.withMinhashSignature(docs, col("text"), 2)
      val clusters = Dedup.bandClusters(sig, "doc_id", Seq("mh0", "mh1"), 1000)
        .drop("cluster_size")
      val quality = docs.select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("score"))
      Components.representatives(clusters, quality)
        .orderBy(col("doc_id"))
    }),

    // ---- Matryoshka truncation recall ----------------------------------
    "q95_mrl_recall" -> ((s, dir) => {
      // recall@3 of a 16-dim prefix-slice index vs the full 64-dim ground
      // truth — the measurement that picks a serving dimension
      val e = t(s, dir, "embeddings")
        .where(col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.mrlRecallAtK(e.where(col("id") < 5), e, d = 16, k = 3)
        .orderBy(col("q_id"))
    }),

    // ---- vocabulary coverage / OOV rate per source ----------------------
    "q96_vocab_coverage" -> ((s, dir) => {
      // top-200 corpus vocabulary; per-source out-of-vocabulary rate in
      // integer basis points — the tokenizer-fit signal per corpus slice
      TextStats.vocabCoverage(t(s, dir, "documents"), col("text"), "source", 200)
        .orderBy(col("source"))
    }),

    // ---- canonical-URL inventory (C4-style web dedup key) ---------------
    "q97_url_inventory" -> ((s, dir) => {
      // synthetic URL injection (the q61 PII precedent): %3 docs cite a
      // noisy https://WWW...?utm#frag spelling, %4 docs the bare-host
      // http spelling with a trailing slash — both collapse to ONE
      // canonical key, which is the whole point of the operator
      val injected = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" see HTTPS://WWW.Example"), (col("doc_id") % 7).cast("string"),
            lit(".COM/Wiki/Page"), (col("doc_id") % 11).cast("string"),
            lit("?utm_source=x#sec")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" at http://example"), (col("doc_id") % 7).cast("string"),
            lit(".com/Wiki/Page"), (col("doc_id") % 11).cast("string"), lit("/")))
          .otherwise(lit("")))
      val docs = t(s, dir, "documents").withColumn("text", injected)
      Web.urlInventory(docs, col("text"), "doc_id")
        .select(col("canonical"), col("domain"), col("n_refs"),
          col("n_forms"), col("n_docs"), col("first_doc"))
        .orderBy(col("canonical"))
    }),

    // ---- IVF cell-balance diagnostic ------------------------------------
    "q98_ivf_balance" -> ((s, dir) => {
      // per-cell population under q42's exact assignment (first-8 seeds,
      // argmax cosine, ties to smaller cid) — the index-health histogram
      val e = t(s, dir, "embeddings")
        .where(col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfCellStats(e, numCentroids = 8)
        .orderBy(col("cid"))
    }),

    // ---- URL-level dedup (min-id election per canonical key) ------------
    "q99_url_dedup" -> ((s, dir) => {
      // synthetic per-doc URL (q97 precedent): even docs carry a noisy
      // HTTPS://WWW...?sid= spelling, odd docs the bare http one — both
      // canonicalize to site{id%5}.com/p{id%13}, 65 pages by CRT; the
      // lowest doc_id per page survives
      val url = when(col("doc_id") % 2 === 0,
        concat(lit("HTTPS://WWW.site"), (col("doc_id") % 5).cast("string"),
          lit(".com/p"), (col("doc_id") % 13).cast("string"),
          lit("?sid="), col("doc_id").cast("string")))
        .otherwise(
          concat(lit("http://site"), (col("doc_id") % 5).cast("string"),
            lit(".com/p"), (col("doc_id") % 13).cast("string")))
      val docs = t(s, dir, "documents").withColumn("url", url)
      Web.dedupByUrl(docs, col("url"), "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- per-domain quality rollup after a blocklist --------------------
    "q100_domain_stats" -> ((s, dir) => {
      // subdomain injection exercises the last-two-labels rollup; two of
      // the seven registered domains are blocklisted first
      val url = concat(lit("https://sub"), (col("doc_id") % 3).cast("string"),
        lit(".site"), (col("doc_id") % 7).cast("string"),
        lit(".com/a"), (col("doc_id") % 4).cast("string"))
      val docs = t(s, dir, "documents").withColumn("url", url)
      Web.domainStats(
          Web.blockDomains(docs, col("url"), Seq("site0.com", "site3.com")),
          col("url"), col("text"))
        .orderBy(col("domain"))
    }),

    // ---- LSH candidate recall/precision vs exact Jaccard ----------------
    "q101_lsh_recall" -> ((s, dir) => {
      // the dedup loop's own eval (q87's role for ANN): production LSH
      // candidates vs all-pairs Jaccard >= 0.8 truth on a 300-doc sample
      // (all-pairs is quadratic by design — the eval-on-a-sample
      // contract); a 2-hash single band catches a J pair with prob ~J^2
      Dedup.lshRecallEval(
        t(s, dir, "documents").where(col("doc_id") < 300),
        col("text"), "doc_id",
        thresholdBp = 8000, numHashes = 2, maxBucketSize = Some(1000))
    }),

    // ---- fixed-length training-sequence layout ---------------------------
    "q102_seq_layout" -> ((s, dir) => {
      // pack each language's token stream into 2048-token training
      // sequences (docs split at boundaries — the packed-pretraining
      // contract); computed by the q63 two-phase distributed prefix sum,
      // with the per-stratum window cumsum as the oracle formulation
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.sequenceLayout(docs, "doc_id", "lang", "n_tok", seqLen = 2048)
        .select(col("id").as("doc_id"), col("stratum").as("lang"),
          col("n").as("n_tok"), col("running"), col("seq_first"),
          col("seq_last"), col("off_start"), col("n_seqs"))
        .orderBy(col("doc_id"))
    }),

    // ---- public-suffix-aware domain rollup -------------------------------
    "q103_psl_domains" -> ((s, dir) => {
      // hosts alternate a .co.uk public suffix and a plain .com: the PSL
      // overload must take THREE labels for the former (shop{m}.co.uk,
      // not co.uk) and two for the latter
      val url = concat(lit("https://www.shop"), (col("doc_id") % 5).cast("string"),
        when(col("doc_id") % 2 === 0, lit(".co.uk")).otherwise(lit(".com")),
        lit("/item"), (col("doc_id") % 3).cast("string"))
      val docs = t(s, dir, "documents").withColumn("url", url)
      Web.domainStats(docs, col("url"), col("text"),
          suffixes = Seq("co.uk", "com.au", "co.jp"))
        .orderBy(col("domain"))
    }),

    // ---- temperature-balanced mixture (α = 0.5) --------------------------
    "q104_temperature_mix" -> ((s, dir) => {
      // per-source budgets ∝ isqrt(source tokens) — the multilingual
      // rebalance at the exactly-computable temperature; all-integer
      // budgets, take in identity-hash order (the q86 contract)
      Sampling.temperatureMix(t(s, dir, "documents"), col("doc_id"),
          col("source"), TextStats.tokenCount(col("text")), totalBudget = 100000)
        .select(col("doc_id"), col("source"), col("mix_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- NFC normalization + control strip (codegen kernel) -------------
    "q105_clean_text" -> ((s, dir) => {
      // the crawl-ingest cleanup pass, exercised via injected Unicode mess
      // (the q61 injection precedent): a C0 control, a decomposed accent,
      // the U+212B angstrom singleton, a vertical tab. md5 over the cleaned
      // text proves byte-exact NFC parity with DuckDB's nfc_normalize;
      // byte lengths (octet_length/strlen — codepoint "length" semantics
      // differ more across engines) show what composition/stripping did
      val injected = concat(col("text"), lit("\u0001 cafe\u0301 \u212B\u000B"))
      val cleaned = graft.functions.CleanTextExpr.clean_text(injected)
      t(s, dir, "documents")
        .where(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          octet_length(injected).cast("long").as("n_raw"),
          octet_length(cleaned).cast("long").as("n_clean"),
          md5(cleaned).as("h"))
        .orderBy(col("doc_id"))
    }),

    // ---- BM25 retrieval top-k (fixed-point Okapi) -----------------------
    "q106_bm25" -> ((s, dir) => {
      // three literal queries over the corpus; all-BIGINT Okapi scoring
      // (S=10^6, k1=1.2, b=0.75), ties broken by doc_id — the retrieval
      // primitive behind decontamination-by-retrieval and neighbor audits
      TextStats.bm25TopK(t(s, dir, "documents"), col("text"), "doc_id",
          queries = Seq((1L, "hash join"), (2L, "window agg stream"),
            (3L, "vector scan table")), k = 5)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- DSIR importance weights (distribution-matching selection) ------
    "q107_dsir" -> ((s, dir) => {
      // target = the English slice; every doc scored by the hashed-bigram
      // log-likelihood ratio target-vs-raw (integer Mitchell log2). The
      // trained model is ≤4096 bucket weights — broadcast literal, scoring
      // is one map-side fold, the corpus never shuffles
      Importance.dsirScores(t(s, dir, "documents"), col("text"), "doc_id",
          isTarget = col("lang") === "en", buckets = 4096)
        .orderBy(col("doc_id"))
    }),

    // ---- edit-distance-confirmed near-dup pairs -------------------------
    "q108_edit_pairs" -> ((s, dir) => {
      // LSH recalls, bit-parallel Myers levenshtein over a 64-char
      // prefix confirms (graft_levenshtein — ~64 word steps per pair,
      // builtin-parity spec'd, see Dedup.editConfirmedPairs) — the
      // order-sensitive sibling of q24's Jaccard confirm. maxDist 16
      // = a quarter of the prefix: the near-dup regime this operator
      // is for
      Dedup.editConfirmedPairs(t(s, dir, "documents"), col("text"), "doc_id",
          numHashes = 2, prefixLen = 64, maxDist = 16,
          maxBucketSize = Some(1000),
          // the (band, prefix) projection is planned 4x otherwise
          // (census + guard + both join sides) — measured ~10% here;
          // the Myers confirm dominates
          persistSignatures = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- per-doc contamination fraction (graded q59) --------------------
    "q109_contam_frac" -> ((s, dir) => {
      // same benchmark split as q59; reports the overlap FRACTION in
      // basis points over each doc's distinct 8-grams, not just the flag
      val docs = t(s, dir, "documents")
      Contamination.contaminationFraction(
          docs.where(col("doc_id") % 37 =!= 0), col("text"), "doc_id",
          docs.where(col("doc_id") % 37 === 0), col("text"), n = 8)
        .orderBy(col("doc_id"))
    }),

    // ---- incremental cluster assignment ---------------------------------
    "q110_cluster_assign" -> ((s, dir) => {
      // the arriving batch (doc_id % 37 == 0) routed to the existing
      // corpus's LSH band clusters; min matching rep, NULL = new cluster
      val docs = t(s, dir, "documents")
      Dedup.assignToClusters(
          docs.where(col("doc_id") % 37 =!= 0),
          docs.where(col("doc_id") % 37 === 0), col("text"), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- smoothed bigram LM log-prob (perplexity filtering) -------------
    "q111_lm_logprob" -> ((s, dir) => {
      // add-one-smoothed bigram log2-probability per doc in 2^16 fixed
      // point — the calibrated perplexity signal q93's inverse-ratio
      // rarity approximates
      Importance.bigramLogProb(t(s, dir, "documents"), col("text"), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- PII redaction (release-side sibling of q61's counts) -----------
    "q112_pii_redact" -> ((s, dir) => {
      // q61's deterministic PII injection, then typed-placeholder
      // replacement; the oracle replays the identical replace chain
      val injected = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1 and +1 555 0100 "), (col("doc_id") % 100).cast("string")))
          .otherwise(lit("")))
      TextStats.redactPii(
          t(s, dir, "documents").withColumn("text", injected),
          col("text"), col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- HTML → text extraction (crawl WET step) ------------------------
    "q113_html_strip" -> ((s, dir) => {
      // deterministic markup injected around the corpus text (the q61/q105
      // injection precedent — the synthetic corpus holds no HTML), then
      // script/style/comment/tag strip + entity decode + whitespace
      // collapse, mirrored exactly by the oracle's RE2 chain
      val html = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;</script>" +
          "<style>p { color: red; }</style></head><body><!-- crawl artifact -->" +
          "<p class=\"main\">"),
        col("text"),
        lit(" &amp; more &lt;tags&gt; &quot;here&quot; &#39;now&#39;&nbsp;end" +
          "</p></body></html>"))
      t(s, dir, "documents")
        .withColumn("clean", Web.stripHtml(html))
        .select(col("doc_id"),
          length(col("clean")).cast("long").as("n_clean"), col("clean"))
        .orderBy(col("doc_id"))
    }),

    // ---- corpus snapshot diff (incremental recrawl maintenance) ---------
    "q114_snapshot_diff" -> ((s, dir) => {
      // old = ids < 450, new = ids >= 50 with every 10th doc edited —
      // added/removed/changed/same via content-hash full-outer join
      val docs = t(s, dir, "documents")
      Snapshots.diffByContent(
          docs.where(col("doc_id") < 450),
          docs.where(col("doc_id") >= 50)
            .withColumn("text",
              when(col("doc_id") % 10 === 0, concat(col("text"), lit(" v2")))
                .otherwise(col("text"))),
          "doc_id", col("text"))
        .orderBy(col("doc_id"))
    }),

    // ---- overlapping token-window chunking (embedding/RAG prep) ---------
    "q115_chunks" -> ((s, dir) => {
      // 32-token windows, stride 24 (8-token overlap); map-side generate,
      // a short last window, never zero chunks per doc
      Packing.chunkDocs(t(s, dir, "documents"), col("text"), "doc_id",
          chunkSize = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // ---- within-doc repeated-line removal (template chrome) -------------
    "q116_line_dedup_doc" -> ((s, dir) => {
      // deterministic line structure injected (every " the " starts a new
      // line) plus a repeated "nav menu" footer so every doc exercises
      // the removal path; the oracle replays the identical injection
      val lined = concat(lit("nav menu\n"),
        replace(col("text"), lit(" the "), lit("\nthe ")),
        lit("\nnav menu\nnav menu"))
      Dedup.dropRepeatedLinesInDoc(
          t(s, dir, "documents").withColumn("text", lined),
          col("text"), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- iterative BPE merge training (k = 3 rounds) --------------------
    "q117_bpe_train" -> ((s, dir) => {
      // the real tokenizer-induction loop over the corpus vocabulary:
      // count → argmax → merge, three rounds; the oracle unrolls the
      // identical three stages as CTEs
      TextStats.bpeTrainMerges(t(s, dir, "documents"), col("text"), k = 3)
        .orderBy(col("merge_rank"))
    }),

    // ---- BPE apply: trained-tokenizer subword counts --------------------
    "q118_bpe_apply" -> ((s, dir) => {
      // the learned merges (k = 3, bounded driver state) baked as literals
      // into a map-side segmentation fold — the REAL tokens-per-doc number
      // a token-budget pipeline wants, vs q36's whitespace heuristic
      val docs = t(s, dir, "documents")
      val merges = TextStats.bpeTrainMerges(docs, col("text"), k = 3)
        .orderBy(col("merge_rank")).collect().map(_.getString(1)).toSeq
      // NOTE (round 20): a global orderBy's range exchange samples its
      // child and recomputes it for the shuffle, so the BPE kernel below
      // this Sort runs twice. The sort-first alternative (kernel above
      // the Sort) was measured a wash locally and is scale-WRONG: it
      // moves full text across the sort exchange where this shape moves
      // 24-byte computed rows — the same shuffle-bytes trade that
      // rejected the q90 rewrite. The 2x kernel is the documented cost
      // of the deterministic ORDER BY contract here.
      TextStats.bpeSegmentCounts(docs, col("text"), "doc_id", merges)
        .orderBy(col("doc_id"))
    }),

    // ---- SimHash Hamming-ball pairs (pigeonhole block banding) ----------
    "q119_simhash_pairs" -> ((s, dir) => {
      // d=3 over the 32-bit signature -> four 8-bit blocks; the 1000-cap
      // census guard mirrors q22's contract (the oracle carries the same
      // HAVING per block)
      Dedup.simhashHammingPairs(t(s, dir, "documents"), "doc_id", col("text"),
          maxDist = 3, bits = 32, maxBucketSize = Some(1000),
          persistSignatures = true) // kernel once, not 2x per block leg
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- exact heavy hitters with bounded memory (Misra-Gries) ----------
    "q120_heavy_hitters" -> ((s, dir) => {
      // k=50 counters -> every token above 1/51 of the corpus; candidates
      // are a per-task sketch bound, the confirm pass is exact
      TextStats.heavyHitters(t(s, dir, "documents"), col("text"), k = 50)
        .orderBy(col("token"))
    }),

    // ---- serpentine shard balancing (distributed rank, snake deal) ------
    "q121_snake_shards" -> ((s, dir) => {
      Packing.snakeShards(
          t(s, dir, "documents").withColumn("n_tok", TextStats.tokenCount(col("text"))),
          "doc_id", col("n_tok"), numShards = 8)
        .orderBy(col("id"))
    }),

    // ---- per-dimension embedding drift between two slices ---------------
    "q122_embedding_drift" -> ((s, dir) => {
      // even/odd vec_id as the A/B slices; quantized-integer sums keep the
      // per-dim means engine-exact (see Similarity.dimensionDrift)
      Similarity.dimensionDrift(t(s, dir, "embeddings"),
          col("embedding"), col("vec_id") % 2 === 0)
        .orderBy(col("dim"))
    }),

    // ---- UniMax-style waterfilling token budget across sources ----------
    "q123_waterfill_alloc" -> ((s, dir) => {
      Sampling.waterfillAlloc(t(s, dir, "documents"),
          col("source"), TextStats.tokenCount(col("text")), budget = 20000L)
        .orderBy(col("source"))
    }),

    // ---- soft dedup: per-copy loss weights from cluster sizes -----------
    "q124_soft_dedup" -> ((s, dir) => {
      // q58's clusters from the guarded buckets of its one band
      // (Dedup.bandClusters: one partial-aggregated count per bucket,
      // never a per-cluster window), sizes -> basis-point loss weights
      val sig = Dedup.withMinhashSignature(t(s, dir, "documents"), col("text"), 2)
      Dedup.bandClusters(sig, "doc_id", Seq("mh0", "mh1"), 1000)
        .withColumn("weight_bp", expr("10000 div cluster_size"))
        .orderBy(col("doc_id"))
    }),

    // ---- deterministic seeded global training order ---------------------
    "q125_shuffle_order" -> ((s, dir) => {
      Packing.shuffleOrder(t(s, dir, "documents"), "doc_id", seed = 42L)
        .orderBy(col("id"))
    }),

    // ---- per-document n-gram novelty vs all earlier documents -----------
    "q126_ngram_novelty" -> ((s, dir) => {
      Contamination.ngramNovelty(t(s, dir, "documents"), col("text"),
          "doc_id", n = 8)
        .orderBy(col("doc_id"))
    }),

    // ---- soft curation: near-dup multiplicity -> loss weights ----------
    "q127_curate_soft" -> ((s, dir) => {
      // q73's exact fixture (PII injection, %37 benchmark split); the
      // near-dup DROP stage swapped for cluster-size down-weighting —
      // every gated, exact-deduped, clean doc survives with its weight
      val injected = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1 and +1 555 0100 "), (col("doc_id") % 100).cast("string")))
          .otherwise(lit("")))
      val docs = t(s, dir, "documents").withColumn("text", injected)
      val bench = docs.where(col("doc_id") % 37 === 0)
      val pool = docs.where(col("doc_id") % 37 =!= 0)
      graft.pipeline.Curation.curateSoft(pool, col("text"), "doc_id", "source", bench,
          minDocs = 20, minAlphaBp = 8100, numHashes = 2,
          maxBucketSize = 1000, n = 8)
        .select(col("doc_id"), col("source"), col("canonical_id"),
          col("cluster_size"), col("weight_bp"))
        .orderBy(col("doc_id"))
    }),

    // ---- per-source corpus report card ----------------------------------
    "q128_source_report" -> ((s, dir) => {
      // docs vs the %37 benchmark slice — dup/contamination/alpha rates
      // per source in one composed pass
      val docs = t(s, dir, "documents")
      graft.pipeline.Reports.sourceReport(docs, col("text"), "doc_id", "source",
          docs.where(col("doc_id") % 37 === 0), col("text"), n = 8)
        .orderBy(col("source"))
    }),

    // ---- changelog apply (incremental snapshot maintenance) -------------
    "q129_apply_changelog" -> ((s, dir) => {
      // base = ids < 400; log: %3 upsert v1 (text+" v2"), %7 delete v2,
      // %11 upsert v3 (re-adds the deleted %77 ids), 400-449 fresh
      // upserts — exercises update, delete, delete-then-re-add, insert
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = docs.where(col("doc_id") < 400)
      val log = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), lit(1L).as("version"), lit("upsert").as("op"),
          concat(col("text"), lit(" v2")).as("text"))
        .unionByName(docs.where(col("doc_id") % 7 === 0)
          .select(col("doc_id"), lit(2L).as("version"),
            lit("delete").as("op"), col("text")))
        .unionByName(docs.where(col("doc_id") % 11 === 0)
          .select(col("doc_id"), lit(3L).as("version"), lit("upsert").as("op"),
            concat(col("text"), lit(" v3")).as("text")))
        .unionByName(docs.where(col("doc_id") >= 400 && col("doc_id") < 450)
          .select(col("doc_id"), lit(4L).as("version"),
            lit("upsert").as("op"), col("text")))
      Snapshots.applyChangelog(base, log, "doc_id", "version", "op")
        .orderBy(col("doc_id"))
    }),

    // ---- length-bucketed batching (dynamic-padding loader layout) -------
    "q130_length_buckets" -> ((s, dir) => {
      // 16-token buckets, 8-doc batches; per-batch padding waste via the
      // two-phase per-bucket index, never a per-bucket window funnel
      Packing.lengthBucketBatches(
          t(s, dir, "documents")
            .withColumn("n_tok", TextStats.tokenCount(col("text"))),
          "doc_id", col("n_tok"), bucketWidth = 16L, batchSize = 8L)
        .orderBy(col("bucket"), col("batch_id"))
    }),

    // ---- Naive-Bayes quality/domain classifier (train + apply) ----------
    "q131_nb_classifier" -> ((s, dir) => {
      // seeds = first half, rule label = lang == 'en'; Mitchell-log2
      // fixed-point keeps train + score engine-exact (see nbClassify)
      TextStats.nbClassify(t(s, dir, "documents"), col("text"), "doc_id",
          isSeed = col("doc_id") < 250, seedLabel = col("lang") === "en",
          topV = 500)
        .orderBy(col("doc_id"))
    }),

    // ---- two-stage ANN: PQ shortlist + exact re-rank --------------------
    "q132_pq_rerank" -> ((s, dir) => {
      // q80's PQ config, shortlist 20 -> exact top-3: the refine stage
      // touches only 20 full vectors per query
      val e = t(s, dir, "embeddings")
        .where(col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.pqRerankTopK(e, e.where(col("id") < 5),
          m = 4, numCodes = 16, k = 3, shortlist = 20)
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy(col("q_id"), col("rnk"))
    }),

    // ---- kNN label eval (embedding scorecard: vote accuracy + nDCG) -----
    "q133_knn_eval" -> ((s, dir) => {
      // 25 labeled queries, k=10 cosine neighbors; majority vote + DCG
      // under integer position weights (see Similarity.dcgWeights)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
      Similarity.knnLabelEval(e, e.where(col("id") < 25), k = 10)
        .orderBy(col("q_id"))
    }),

    // ---- classifier threshold sweep (PR curve over binned scores) -------
    "q134_pr_curve" -> ((s, dir) => {
      // q131's scores against the lang=='en' truth, binned at the flog2
      // unit (2^16) — the keep-everything-≥-threshold confusion table
      val docs = t(s, dir, "documents")
      val scored = TextStats.nbClassify(docs, col("text"), "doc_id",
          isSeed = col("doc_id") < 250, seedLabel = col("lang") === "en",
          topV = 500)
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("long").as("y")), Seq("doc_id"))
      TextStats.prCurve(scored, col("score"), col("y"), binWidth = 65536L)
        .orderBy(col("threshold").desc)
    }),

    // ---- Kneser-Ney bigram log-prob (KenLM-class smoothing) -------------
    "q135_kneser_ney" -> ((s, dir) => {
      // D=3/4 absolute discount + continuation backoff in 2^20 fixed
      // point; the calibrated perplexity signal q111 approximates
      Importance.kneserNeyLogProb(t(s, dir, "documents"), col("text"), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- per-frame decode plane (video frames, no content duplication) --
    "q136_frame_features" -> ((s, dir) => {
      // frames generated INSIDE the partition from duration metadata —
      // content read once, never joined/duplicated per frame
      val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
        .where(col("modality") === "video")
      Multimodal.extractFrameFeatures(media, everyMs = 20000L, dims = 3)
        .select(col("media_id"), col("frame_ms"),
          element_at(col("embedding"), 1).cast("double").as("e0"),
          element_at(col("embedding"), 2).cast("double").as("e1"),
          element_at(col("embedding"), 3).cast("double").as("e2"))
        .orderBy(col("media_id"), col("frame_ms"))
    }),

    // ---- contrastive pair mining (positives + hard negatives) -----------
    "q137_contrastive_pairs" -> ((s, dir) => {
      // 10 anchors; 2 nearest same-label positives + 3 nearest
      // different-label hard negatives each
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
      Similarity.contrastivePairs(e, e.where(col("id") < 10), kPos = 2, kNeg = 3)
        .orderBy(col("q_id"), col("kind"), col("rnk"))
    }),

    // ---- leakage-safe train/eval split (near-dups co-travel) ------------
    "q138_cluster_split" -> ((s, dir) => {
      // q124's clusters, split hashed on the CANONICAL id — a near-dup
      // pair can never straddle train/eval
      val sig = Dedup.withMinhashSignature(t(s, dir, "documents"), col("text"), 2)
      Sampling.clusterSafeSplit(
          Dedup.bandClusters(sig, "doc_id", Seq("mh0", "mh1"), 1000)
            .drop("cluster_size"), "canonical_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id"))
    }),

    // ---- incremental curation (daily-ingest vs standing corpus) ---------
    "q139_curate_incremental" -> ((s, dir) => {
      // q73's PII injection over all docs; batch = %11 slice, corpus =
      // the rest, benchmark = the %37 slice; batch-sized source gate
      val injected = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1 and +1 555 0100 "), (col("doc_id") % 100).cast("string")))
          .otherwise(lit("")))
      val docs = t(s, dir, "documents").withColumn("text", injected)
      val batch = docs.where(col("doc_id") % 11 === 0)
      val corpus = docs.where(col("doc_id") % 11 =!= 0)
      val bench = docs.where(col("doc_id") % 37 === 0)
      graft.pipeline.Curation.curateIncremental(batch, corpus,
          col("text"), "doc_id", "source", bench,
          minDocs = 2, minAlphaBp = 8100, numHashes = 8,
          maxBucketSize = 1000, n = 8)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- packed training sequences (the samples, not just the layout) ---
    "q140_packed_sequences" -> ((s, dir) => {
      // 64-token sequences per language stream; docs split at
      // boundaries, every sequence full except each stratum's last
      Packing.packedSequences(
          t(s, dir, "documents"), col("text"), "doc_id", "lang", seqLen = 64L)
        .orderBy(col("stratum"), col("seq_id"))
    }),

    // ---- multiclass NB language ID (trained; q26 is the heuristic) ------
    "q141_nb_langid" -> ((s, dir) => {
      TextStats.nbClassifyMulti(t(s, dir, "documents"), col("text"), "doc_id",
          isSeed = col("doc_id") < 250, classCol = col("lang"),
          classes = Seq("de", "en", "es", "fr", "zh"), topV = 500)
        .orderBy(col("doc_id"))
    }),

    // ---- per-benchmark-item coverage (the eval owner's view) ------------
    "q142_bench_coverage" -> ((s, dir) => {
      // reverse of q109: per %37 benchmark item, how much of IT the
      // corpus already holds
      val docs = t(s, dir, "documents")
      Contamination.benchmarkCoverage(
          docs.where(col("doc_id") % 37 =!= 0), col("text"),
          docs.where(col("doc_id") % 37 === 0), col("text"), "doc_id", n = 8)
        .orderBy(col("doc_id"))
    }),

    // ---- per-source vocabulary divergence (mix drift monitor) -----------
    "q143_source_divergence" -> ((s, dir) => {
      TextStats.sourceDivergence(t(s, dir, "documents"), col("text"),
          "source", topV = 500)
        .orderBy(col("source"))
    }),

    // ---- containment (overlap-coefficient) pairs: quote detection -------
    "q144_containment_pairs" -> ((s, dir) => {
      // winnow-prefiltered (the substring guarantee is the right recall
      // path for inclusion); q57's k=5/w=8/cap=50 fingerprint config
      Dedup.containmentPairs(t(s, dir, "documents"), col("text"), "doc_id",
          threshold = 0.8, k = 5, w = 8, maxBucketSize = Some(50))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- ordered funnel (view -> click -> purchase) ---------------------
    "q145_funnel" -> ((s, dir) => {
      // step i counts only strictly after step i-1's first reach — the
      // product-analytics semantics; per-user state is one timestamp
      Events.funnel(events(s, dir), Seq("view", "click", "purchase"))
        .orderBy(col("user_id"))
    }),

    // ---- retention cohort triangle --------------------------------------
    "q146_retention" -> ((s, dir) => {
      Events.retentionCohorts(events(s, dir))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // ---- deterministic weighted sampling (A-Res, integer keys) ----------
    "q147_weighted_sample" -> ((s, dir) => {
      // inclusion odds ~ token count; TakeOrdered top-k, no global sort
      Sampling.weightedSample(
          t(s, dir, "documents")
            .withColumn("n_tok", TextStats.tokenCount(col("text"))),
          "doc_id", col("n_tok"), k = 100, seed = 7L)
        .orderBy(col("skey"), col("doc_id"))
    }),

    // ---- exact-k weighted sampling per stratum --------------------------
    "q148_weighted_stratified" -> ((s, dir) => {
      // 20 token-weighted picks per language; WindowGroupLimit prunes
      // beyond-rank rows below the stratum exchange
      Sampling.weightedSampleStratified(
          t(s, dir, "documents")
            .withColumn("n_tok", TextStats.tokenCount(col("text"))),
          "doc_id", "lang", col("n_tok"), k = 20, seed = 7L)
        .orderBy(col("stratum"), col("skey"), col("doc_id"))
    }),

    // ---- PSL-snapshot domain rollup (full rule set) ---------------------
    "q150_psl4_domains" -> ((s, dir) => {
      // hosts rotate every rule kind in the CHECKED-IN snapshot: a
      // 3-label exact suffix (.pref.aichi.jp -> 4-label registered), a
      // 2-label one (.co.uk -> 3), a WILDCARD suffix (*.ck: .free.ck ->
      // 3), an EXCEPTION (!www.ck: everything under www.ck registers as
      // www.ck itself), and plain .com (2); rules come from the
      // classpath loader, not a hand-typed Seq
      val url = concat(lit("https://www.shop"), (col("doc_id") % 5).cast("string"),
        when(col("doc_id") % 5 === 0, lit(".pref.aichi.jp"))
          .when(col("doc_id") % 5 === 1, lit(".co.uk"))
          .when(col("doc_id") % 5 === 2, lit(".free.ck"))
          .when(col("doc_id") % 5 === 3, lit(".www.ck"))
          .otherwise(lit(".com")),
        lit("/item"), (col("doc_id") % 3).cast("string"))
      val docs = t(s, dir, "documents").withColumn("url", url)
      Web.domainStats(docs, col("url"), col("text"),
          rules = Web.bundledPublicSuffixRules())
        .orderBy(col("domain"))
    }),

    // ---- per-group exact heavy hitters (TypedImperativeAggregate) -------
    "q149_heavy_hitters_by" -> ((s, dir) => {
      // k=50 counters PER SOURCE via the Misra-Gries typed aggregate;
      // exact confirm makes the threshold set plain-SQL-oracleable
      TextStats.heavyHittersBy(t(s, dir, "documents"), col("text"),
          Seq("source"), k = 50)
        .orderBy(col("source"), col("token"))
    }),

    // ---- DQL acceptance: near(geo) — box prefilter + ranked top-k -------
    "q151_geo_near" -> ((s, dir) => {
      // georss "lat lon" literals on a deterministic micro-degree grid,
      // round-tripped through the string parse (the same literal shape
      // q31 synthesizes GeoJSON from), then near((37.25, -100.5), 10deg
      // box, top 25) — integer-exact equirectangular ranking
      def gs(c: String): Column = concat(
        when(col(c) < 0, lit("-")).otherwise(lit("")),
        expr(s"abs($c) div 1000000").cast("string"), lit("."),
        lpad(expr(s"abs($c) % 1000000").cast("string"), 6, "0"))
      val pts = t(s, dir, "part")
        .withColumn("id", col("p_partkey").cast("long"))
        .withColumn("_la", (col("id") * 96064793L) % 180000001L - 90000000L)
        .withColumn("_lo", (col("id") * 144721393L) % 360000001L - 180000000L)
        .withColumn("o", concat(lit("\""), gs("_la"), lit(" "), gs("_lo"), lit("\"")))
        .select("id", "o")
      val (latm, lonm) = graft.ops.Geo.pointMicro(col("o"))
      graft.ops.Geo.near(pts, "id", latm, lonm,
          qLatMicro = 37250000L, qLonMicro = -100500000L,
          boxMicro = 10000000L, k = 25)
        .orderBy(col("dist2"), col("id"))
    }),

    // ---- q148's semantics through the exact top-k typed aggregate -------
    "q152_weighted_agg" -> ((s, dir) => {
      // same A-Res keys and tie-break as q148, but per-stratum selection
      // is the k-entry-heap ObjectHashAggregate (no sort, no window) —
      // the aggregate dual; identical rows, so the oracle is q148's
      Sampling.weightedSampleStratifiedAgg(
          t(s, dir, "documents")
            .withColumn("n_tok", TextStats.tokenCount(col("text"))),
          "doc_id", "lang", col("n_tok"), k = 20, seed = 7L)
        .orderBy(col("stratum"), col("skey"), col("doc_id"))
    }),

    // ---- Gopher n-gram repetition (top-2-gram + dup-5-gram fractions) ---
    "q153_ngram_repetition" -> ((s, dir) => {
      // the Rae et al. §A1.1 pair the token-level q62 doesn't cover:
      // top n-gram char fraction (small n) + duplicated n-gram char
      // fraction (large n), integer ppm
      val d2 = TextStats.ngramRepetition(t(s, dir, "documents"), col("text"), 2)
      val d5 = TextStats.ngramRepetition(d2, col("text"), 5)
      d5.select(col("doc_id"), col("top2gram_ppm"), col("dup2gram_ppm"),
          col("top5gram_ppm"), col("dup5gram_ppm"))
        .orderBy(col("doc_id"))
    }),

    // ---- C4 line-level cleaning (terminal punct, min words, bad strs) ---
    "q154_c4_lines" -> ((s, dir) => {
      // the corpus has no newline structure (q90 precedent), so each doc
      // gets 5 synthesized lines: a real sentence, a bullet fragment, a
      // javascript boilerplate line (terminal punct + enough words, so
      // ONLY the bad-substring rule drops it), a short unpunctuated
      // fragment, and a second real sentence on even ids only — odd ids
      // keep 1 < minLines=2 lines, so the doc gate fires too
      // every slice with start > 1 is guarded on token count: DuckDB's
      // list[a:b] is NULL (not empty) when a > len, and concat_ws SKIPS
      // null — an unguarded slice would diverge on short docs
      val toks = Dedup.tokens(col("text"))
      val l1 = concat(array_join(slice(toks, 1, 6), " "), lit("."))
      val l2 = when(size(toks) >= 7,
        concat(lit("- "), array_join(slice(toks, 7, 3), " "))).otherwise(lit("- "))
      val l3 = lit("please enable javascript to view this page.")
      val l4 = when(size(toks) >= 10, array_join(slice(toks, 10, 2), " "))
        .otherwise(lit(""))
      val l5 = when(col("doc_id") % 2 === 0 && size(toks) >= 12,
        concat(array_join(slice(toks, 12, 8), " "), lit("!"))).otherwise(lit(""))
      val lined = t(s, dir, "documents")
        .withColumn("text", concat_ws("\n", l1, l2, l3, l4, l5))
      TextStats.c4LineFilter(lined, col("text"), minWords = 3, minLines = 2)
        .select(col("doc_id"), col("c4_lines"), col("c4_kept"),
          col("c4_text"), col("c4_pass"))
        .orderBy(col("doc_id"))
    }),

    // ---- explicit IVF cell assignment under a trained model -------------
    "q155_ivf_assign" -> ((s, dir) => {
      // the q42/q98 assignment as a first-class surface: train the
      // first-8 quantizer once, assign every vector map-side (zero
      // shuffle before the final ORDER BY)
      val e = t(s, dir, "embeddings")
        .where(col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.assignCells(e, Similarity.trainIvfSeed(e, numCentroids = 8))
        .select(col("id"), col("cid"))
        .orderBy(col("id"))
    }),

    // ---- spatial kNN join: k nearest points per query point -------------
    "q157_geo_knn_join" -> ((s, dir) => {
      // q151's grid; three query points taken AT grid positions
      // 100/200/300 with their cosScale factors precomputed driver-side
      // (the nearJoin contract — an in-plan cos() would be
      // engine-inexact); per-query top-5 through the TopKByKeyAgg heap
      import s.implicits._
      def gLat(i: Long) = (i * 96064793L) % 180000001L - 90000000L
      def gLon(i: Long) = (i * 144721393L) % 360000001L - 180000000L
      val qs = Seq(100L, 200L, 300L)
        .map(i => (i, gLat(i), gLon(i), graft.ops.Geo.cosScale(gLat(i))))
        .toDF("qid", "qlatm", "qlonm", "coss")
      val pts = t(s, dir, "part")
        .withColumn("id", col("p_partkey").cast("long"))
      graft.ops.Geo.nearJoin(pts, "id",
          (col("id") * 96064793L) % 180000001L - 90000000L,
          (col("id") * 144721393L) % 360000001L - 180000000L,
          qs, boxMicro = 15000000L, k = 5)
        .orderBy(col("qid"), col("dist2"), col("id"))
    }),

    // ---- CCNet perplexity buckets (head / middle / tail per language) ---
    "q156_ccnet_buckets" -> ((s, dir) => {
      // q111's calibrated LM score cut into per-language tertiles —
      // the CCNet keep-head+middle / drop-tail selection signal
      Importance.perplexityBuckets(
          t(s, dir, "documents"), col("text"), "doc_id", "lang")
        .orderBy(col("doc_id"))
    }),

    // ---- KS distribution-shift audit between sources --------------------
    "q158_ks_source_drift" -> ((s, dir) => {
      // binned two-sample KS over per-doc token counts, every source
      // pair: the "is this slice drawn from a different distribution"
      // signal that decides source re-weighting. Exact on 64 bins of
      // width 2; corpus work is one (source, bin) partial count.
      val docs = t(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull &&
          col("source").isNotNull)
      graft.pipeline.Reports.ksDistance(docs,
          TextStats.tokenCount(col("text")).cast("long"),
          col("source"), bins = 64, binWidth = 2L)
        .select(col("group_a").as("src_a"), col("group_b").as("src_b"),
          col("ks_ppm"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // ---- Cohen's kappa label agreement ----------------------------------
    "q159_label_kappa" -> ((s, dir) => {
      // agreement between two deterministic binary labelers (a token-
      // length rule vs a char-length rule) corrected for chance — the
      // annotation-QC statistic, all-BIGINT ppm
      val docs = t(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull &&
          col("n_chars").isNotNull)
      TextStats.cohenKappa(docs,
        TextStats.tokenCount(col("text")).cast("long") >= 40L,
        col("n_chars") >= 250L)
    }),

    // ---- empirical-Bayes shrunk gating rates ----------------------------
    "q160_shrunk_rates" -> ((s, dir) => {
      // per-source short-document rate pulled toward the global rate
      // with 25 pseudo observations — the quality-prior a curation gate
      // thresholds instead of the raw rate (small sources pull to the
      // prior, large sources dominate it); all-BIGINT floor ppm
      val docs = t(s, dir, "documents")
        .where(col("source").isNotNull && col("n_chars").isNotNull)
      graft.pipeline.Reports.shrunkRates(docs,
          col("source"), col("n_chars") < 200L, pseudoN = 25L)
        .orderBy(col("group"))
    }),

    // ---- reciprocal-rank fusion (hybrid retrieval) ----------------------
    "q161_rrf_fusion" -> ((s, dir) => {
      // BM25 and term-coverage top-10 candidate lists fused by
      // reciprocal rank (RRF k=60) — the zero-calibration hybrid
      // combiner; every post-retrieval frame is queries×k rows
      val docs = t(s, dir, "documents")
      val qs = Seq((1L, "hash join"), (2L, "window agg stream"),
        (3L, "vector scan table"))
      val lex = TextStats.bm25TopK(docs, col("text"), "doc_id", qs, k = 10)
      val cov = Ranking.coverageTopK(docs, col("text"), "doc_id", qs, k = 10)
      Ranking.rrfFuse(
          Seq(lex, cov).map(_.select(col("query_id"), col("doc_id"), col("rnk"))),
          "doc_id", topK = 5)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- binary-relevance nDCG@k of the exact neighbor ranking ----------
    "q162_ndcg" -> ((s, dir) => {
      // label-coherence of the embedding space: q25's brute-force cosine
      // ranking at k=10 scored against the label ground truth with the
      // shared literal discount table (no engine evaluates a float log)
      val e = t(s, dir, "embeddings")
      val vecs = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val ranking = Similarity.cosineTopK(vecs.where(col("id") < 5), vecs, k = 10)
      Ranking.ndcgAtK(ranking, e.select(col("vec_id").as("id"), col("label")),
          k = 10)
        .orderBy(col("q_id"))
    }),

    // ---- Fleiss' kappa: three-rater agreement ---------------------------
    "q163_fleiss_kappa" -> ((s, dir) => {
      // q159's two labelers plus an alpha-ratio rule — the multi-rater
      // agreement statistic, one map-side aggregate to a single row
      val docs = t(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull &&
          col("n_chars").isNotNull)
      TextStats.fleissKappa(docs, Seq(
        TextStats.tokenCount(col("text")).cast("long") >= 40L,
        col("n_chars") >= 250L,
        graft.functions.AlphaCountExpr.alpha_count(col("text")).cast("long") * 10L >=
          col("n_chars") * 7L))
    }),

    // ---- cross-source content-overlap matrix ----------------------------
    "q164_source_overlap" -> ((s, dir) => {
      // 8-token-prefix granularity: shared boilerplate openings between
      // sources (full-text md5 would only find exact mirrors); the
      // corpus collapses to distinct (source, hash) keys first
      val docs = t(s, dir, "documents")
        .where(col("source").isNotNull && col("text").isNotNull)
      graft.pipeline.Reports.sourceOverlap(docs, col("source"),
          array_join(slice(Dedup.tokens(col("text")), 1, 8), " "))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // ---- fixed-point PageRank (3 exact integer rounds) ------------------
    "q165_pagerank" -> ((s, dir) => {
      // directed order→part affinity graph folded onto 211 nodes; the
      // oracle unrolls the identical three rounds as chained CTEs
      val edges = t(s, dir, "lineitem")
        .select((col("l_orderkey") % 211).as("src"),
          (col("l_partkey") % 211).as("dst"))
      Components.pageRank(edges, iterations = 3).orderBy(col("id"))
    }),

    // ---- MAD-based robust outlier census --------------------------------
    "q166_mad_outliers" -> ((s, dir) => {
      // per-source median/MAD of n_chars and the 3.5-robust-z outlier
      // count — rank-selection medians, engine-exact
      val docs = t(s, dir, "documents")
        .where(col("source").isNotNull && col("n_chars").isNotNull)
      Stats.madOutliers(docs, col("source"), col("n_chars"))
        .orderBy(col("group"))
    }),

    // ---- ranker agreement: Kendall tau-a + RBO@k ------------------------
    "q167_rank_agreement" -> ((s, dir) => {
      // how much of the BM25 ORDER survives q161's RRF fusion? tau-a =
      // unweighted pairwise agreement, RBO@10 = top-weighted overlap,
      // both all-BIGINT over queries×10 frames. Comparing lex against
      // the FUSED list (not against coverage directly) guarantees ≥5
      // common docs per query by construction — each lex rank-r doc
      // scores at least the rank-r RRF contribution, so half the fused
      // top-10 always comes from lex even on disjoint inputs. The tiny
      // ranking frames are checkpointed ONCE: each feeds two consumers,
      // and without the checkpoint every consumer re-plans its full
      // retrieval pass (2x BM25 + 2x coverage)
      val docs = t(s, dir, "documents")
      val qs = Seq((1L, "hash join"), (2L, "window agg stream"),
        (3L, "vector scan table"))
      val lex = Checkpoints.checkpoint(
        TextStats.bm25TopK(docs, col("text"), "doc_id", qs, k = 10)
          .select(col("query_id"), col("doc_id"), col("rnk")))
      val cov = Checkpoints.checkpoint(
        Ranking.coverageTopK(docs, col("text"), "doc_id", qs, k = 10)
          .select(col("query_id"), col("doc_id"), col("rnk")))
      // fused IS checkpointed like its inputs: the un-checkpointed form
      // (both consumers re-deriving the 30-row fold) measured 1.7x
      // SLOWER on the isolated bench (8.6 vs 5.0 s) — the barrier is
      // cheaper than re-planning the fold under two consumers
      val fused = Checkpoints.checkpoint(
        Ranking.rrfFuse(Seq(lex, cov), "doc_id", topK = 10)
          .select(col("query_id"), col("doc_id"), col("rnk")))
      Ranking.kendallTau(lex, fused, "doc_id")
        .join(Ranking.rboAtK(lex, fused, "doc_id", k = 10), "query_id")
        .orderBy(col("query_id"))
    }),

    // ---- confidence calibration: reliability bins + ECE/MCE -------------
    "q168_calibration" -> ((s, dir) => {
      // a deterministic ppm-confidence rule (length-scaled, clamped at
      // 1e6) scored against the q159 token-count label: per-bin
      // reliability plus the one-row ECE/MCE scalars broadcast onto
      // every bin row — ONE corpus pass (the bins table is checkpointed
      // and the scalars fold over it, never a second scan)
      val docs = t(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull &&
          col("n_chars").isNotNull)
      val conf = col("n_chars") * 500L
      val label = TextStats.tokenCount(col("text")).cast("long") >= 40L
      val bins = Checkpoints.checkpoint(
        TextStats.calibrationBins(docs, conf, label, bins = 10))
      bins.crossJoin(broadcast(TextStats.eceFromBins(bins)))
        .orderBy(col("bin"))
    }),

    // ---- Krippendorff's alpha: missing-tolerant multi-rater agreement ----
    "q169_krippendorff" -> ((s, dir) => {
      // the q163 rater panel with STRUCTURAL missingness — rater a only
      // labels even doc_ids, rater c only multiples of 3, rater b labels
      // everything. Every residue class mod 6 exists in any 6-doc run,
      // so the fixture guarantees by construction items with 3, 2, and 1
      // ratings (the 1-rating class is UNPAIRABLE and must be excluded —
      // the statistic's defining behavior vs the kappa family); one
      // map-side aggregate to a single all-BIGINT ppm row
      val docs = t(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull &&
          col("n_chars").isNotNull)
      TextStats.krippendorffAlpha(docs, Seq(
        when(col("doc_id") % 2 === 0,
          TextStats.tokenCount(col("text")).cast("long") >= 40L),
        col("n_chars") >= 250L,
        when(col("doc_id") % 3 === 0,
          graft.functions.AlphaCountExpr.alpha_count(col("text")).cast("long") * 10L >=
            col("n_chars") * 7L)))
    }),

    // ---- unigram-LM tokenizer training (prune-based, 2 EM rounds) --------
    "q170_unigram_lm" -> ((s, dir) => {
      // the tokenizer family's missing half: BPE (q117) merges upward,
      // unigram-LM seeds wide and PRUNES — chars + top-64 bigrams, two
      // greedy-EM segmentation rounds over the weighted vocabulary, kept
      // = the final segmentation still uses the piece; the oracle
      // unrolls the identical two rounds as CTEs (the q165 pattern).
      // Non-emptiness is structural: every character is a candidate row
      TextStats.unigramLmVocab(t(s, dir, "documents"), col("text"),
          topBigrams = 64)
        .orderBy(col("piece"))
    }),

    // ---- media near-duplicate pairs (decode plane × near-dup machinery) --
    "q171_media_neardup" -> ((s, dir) => {
      // the perceptual-dedup composition: codec feature vectors -> SRP
      // bucket prefilter (capped, the q53 guard) -> exact-cosine confirm.
      // Non-emptiness is STRUCTURAL, not data-luck: every doc_id
      // divisible by 37 is re-injected as a distinct media row with the
      // SAME bytes — identical content decodes to identical features
      // (same bucket, cosine 1 >= 0.9), so each injected row pairs with
      // its parent by construction at every sf. The oracle replays the
      // md5-seeded stub decode (the q54 byte math, all 16 dims) and the
      // q40 SRP/cosine pair SQL over the same injected plane.
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
      val inj = base.where(col("doc_id") % 37 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val media = Multimodal.mediaFromDocuments(base.unionByName(inj))
      Multimodal.mediaNearDupPairs(media, dims = 16, planes = 8,
          threshold = 0.9, maxBucketSize = Some(2000))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- unigram-LM apply: words + greedy pieces per doc ----------------
    "q172_unigram_apply" -> ((s, dir) => {
      // the q118 dual for the prune-based tokenizer family: train the
      // vocab (q170's machinery), then serve it — per-document word and
      // piece counts under the shipped model (kept-piece scores,
      // FULL-candidate-V normalizer, matching logp_fp exactly). The
      // whole apply pass is map-side: scores embed as a typedLit map,
      // the greedy recurrence is one fold per token.
      val docs = t(s, dir, "documents")
      val vocab = TextStats.unigramLmVocab(docs, col("text"), topBigrams = 64)
      TextStats.unigramSegmentCounts(docs, col("text"), "doc_id", vocab)
        .orderBy(col("doc_id"))
    }),
  )

  /** DuckDB oracle per query; column names and ordering match exactly. */
  def oracleSql: Map[String, String] = {
    val toks = """string_split_regex(trim(text), '\s+')"""
    // total PII match count (plain string: the regex backslashes must not
    // go through s-interpolation escape processing)
    val piiCount =
      """len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        | + len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
        | + len(regexp_extract_all(text, '\+[0-9][0-9 -]{7,}[0-9]'))""".stripMargin.replace("\n", " ")
    // shared PQ CTEs (q79/q80): subspace slices, codebooks seeded from the
    // first 16 ids (codes in id order), per-(id, subspace) argmin encode
    val pqCommon =
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 300),
        |sub AS (SELECT id, s, v[(s*16+1):((s+1)*16)] AS sv FROM e, range(4) r(s)),
        |cb AS (SELECT s, sv AS cv, list_dot_product(sv, sv) AS cdot,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY s ORDER BY id) - 1 AS BIGINT) AS code
        | FROM sub WHERE id < 16),
        |asg AS (SELECT id, s, code FROM (
        | SELECT sub.id, sub.s, cb.code,
        |  ROW_NUMBER() OVER (PARTITION BY sub.id, sub.s
        |   ORDER BY cb.cdot - 2*list_dot_product(sub.sv, cb.cv), cb.code) AS rn
        | FROM sub JOIN cb ON sub.s = cb.s) WHERE rn = 1)""".stripMargin.replace("\n", " ")
    def mh(seed: String): String =
      s"list_min(list_transform($toks, w -> md5('$seed:' || w)))"
    // shared NB-classifier CTEs (q131/q134): seed counts, top-500 model,
    // restricted-vocab totals, prior, per-doc fixed-point score — the
    // DuckDB twin of TextStats.nbClassify term for term
    lazy val nbCommon =
      s"""WITH seedtok AS (SELECT doc_id, lang = 'en' AS pos, unnest($toks) AS w
        |  FROM documents WHERE doc_id < 250),
        |cnt AS (SELECT w,
        |  CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
        |  CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS c_neg
        | FROM seedtok GROUP BY w),
        |model AS (SELECT w, ${fl2("(c_pos + 1)")} - ${fl2("(c_neg + 1)")} AS w_tok,
        |  c_pos, c_neg FROM (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY (c_pos + c_neg) DESC, w) AS rn FROM cnt)
        | WHERE rn <= 500),
        |tot AS (SELECT
        |  ${fl2("(CAST(SUM(c_neg) AS BIGINT) + 500)")} -
        |  ${fl2("(CAST(SUM(c_pos) AS BIGINT) + 500)")} AS norm FROM model),
        |pri AS (SELECT
        |  ${fl2("(CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT))")} -
        |  ${fl2("(CAST(COUNT(CASE WHEN lang <> 'en' THEN 1 END) AS BIGINT))")} AS prior
        | FROM documents WHERE doc_id < 250),
        |tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
        |sc AS (SELECT t.doc_id, CAST(COUNT(m.w_tok) AS BIGINT) AS n_iv,
        |  CAST(COALESCE(SUM(m.w_tok), 0) AS BIGINT) AS s
        | FROM tok t LEFT JOIN model m ON t.w = m.w GROUP BY t.doc_id),
        |scored AS (SELECT sc.doc_id, n_iv, prior + s + n_iv * norm AS score
        | FROM sc, tot, pri)""".stripMargin.replace("\n", " ")
    // DuckDB twin of Importance.flog2 (integer Mitchell log2, 2^16 scale)
    def fl2(x: String): String = Importance.flog2Sql(x)
    // the three unrolled BPE training rounds (q117 emits the merges,
    // q118 applies them): vocabulary with frequencies, char symbols
    // double-space joined, then per round pair-count / argmax / replace
    val bpeCtes = {
      val stages = (1 to 3).map { i =>
        s"""p$i AS (SELECT pr, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
          |  SELECT wc, unnest(list_transform(range(len(l)-1), j -> l[j+1] || '  ' || l[j+2])) AS pr
          |  FROM (SELECT wc, string_split(sym, '  ') AS l FROM v${i - 1})) GROUP BY pr),
          |m$i AS (SELECT pr, cnt FROM p$i ORDER BY cnt DESC, pr LIMIT 1),
          |v$i AS (SELECT v.wc, replace(v.sym, m.pr, replace(m.pr, '  ', '')) AS sym
          | FROM v${i - 1} v, m$i m)""".stripMargin.replace("\n", " ")
      }.mkString(", ")
      s"""tok AS (SELECT unnest($toks) AS w FROM documents),
        |w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM tok WHERE length(w) >= 2 GROUP BY w),
        |v0 AS (SELECT wc, array_to_string(list_transform(range(length(w)),
        |  i -> substr(w, CAST(i + 1 AS INT), 1)), '  ') AS sym FROM w0),
        |$stages""".stripMargin.replace("\n", " ")
    }
    // one unigram-LM greedy segmentation round (q170): Laplace-smoothed
    // Mitchell-log2 scores from candidate table k$prev, per-position
    // benefit join, beneficial-run islands via the running non-ben count,
    // even-offset bigram starts, lag-consumed singles, usage counts
    def unigramRound(r: Int, prev: String): String =
      s"""s$r AS (SELECT piece, ${fl2("(cnt + 1)")} AS s FROM $prev),
        |n$r AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS v FROM $prev),
        |b$r AS (SELECT up.w, up.wc, up.i, up.c, up.bg,
        |  COALESCE(sb.s + ${fl2("(n.t + n.v)")} > sc.s + sc2.s, false) AS ben
        | FROM up LEFT JOIN s$r sb ON up.bg = sb.piece
        |  LEFT JOIN s$r sc ON up.c = sc.piece
        |  LEFT JOIN s$r sc2 ON up.c2 = sc2.piece, n$r n),
        |g$r AS (SELECT w, wc, i, c, bg, ben,
        |  SUM(CASE WHEN NOT ben THEN 1 ELSE 0 END) OVER (PARTITION BY w ORDER BY i) AS grp
        | FROM b$r),
        |st$r AS (SELECT w, wc, i, c, bg, ben, grp,
        |  MIN(CASE WHEN ben THEN i END) OVER (PARTITION BY w, grp) AS rs
        | FROM g$r),
        |e$r AS (SELECT w, wc, i, c, bg,
        |  ben AND (i - rs) % 2 = 0 AS is_start,
        |  COALESCE(LAG(ben AND (i - rs) % 2 = 0, 1) OVER (PARTITION BY w ORDER BY i), false) AS consumed
        | FROM st$r),
        |cr$r AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
        |  SELECT CASE WHEN is_start THEN bg WHEN NOT consumed THEN c END AS piece, wc FROM e$r)
        | WHERE piece IS NOT NULL GROUP BY piece)""".stripMargin.replace("\n", " ")
    val mkO =
      """CASE
        | WHEN doc_id % 4 = 0 THEN '<http://ex/doc/' || doc_id || '>'
        | WHEN doc_id % 4 = 1 THEN '"' || n_chars || '"^^<http://www.w3.org/2001/XMLSchema#integer>'
        | WHEN doc_id % 4 = 2 THEN '"' || source || '"^^<http://ex/custom>'
        | ELSE '"' || lang || '"' END""".stripMargin.replace("\n", " ")
    val extractVT =
      """SELECT doc_id, o,
        | CASE WHEN o LIKE '<%' THEN o
        |      WHEN regexp_matches(o, '\^\^[^^]*$') THEN regexp_extract(o, '^(.*)\^\^[^^]*$', 1)
        |      ELSE o END AS v,
        | CASE WHEN o LIKE '<%' THEN '<uri>'
        |      WHEN regexp_matches(o, '\^\^[^^]*$') THEN regexp_extract(o, '\^\^([^^]*)$', 1)
        |      ELSE NULL END AS t_raw
        |FROM (SELECT doc_id, """.stripMargin.replace("\n", " ") + mkO + " AS o FROM documents)"
    val coerceT =
      """CASE WHEN t_raw IN ('<uri>', '<http://www.w3.org/2001/XMLSchema#date>',
        | '<http://www.w3.org/2001/XMLSchema#double>', '<http://www.w3.org/2001/XMLSchema#integer>',
        | '<http://www.w3.org/2001/XMLSchema#string>') THEN t_raw
        | ELSE '<http://www.w3.org/2001/XMLSchema#string>' END""".stripMargin.replace("\n", " ")
    // shared BM25 scoring CTEs (q106/q161): query VALUES, query-term
    // prune, per-(doc,term) tf with dl, df, corpus totals, fixed-point
    // Okapi per-(query,doc) score — identical text in both oracles
    val bm25Ctes =
      s"""q(query_id, qtext) AS (VALUES (CAST(1 AS BIGINT), 'hash join'),
        |  (CAST(2 AS BIGINT), 'window agg stream'), (CAST(3 AS BIGINT), 'vector scan table')),
        |qt AS (SELECT query_id, unnest(list_distinct(string_split_regex(trim(qtext), '\\s+'))) AS term FROM q),
        |qd AS (SELECT DISTINCT term FROM qt),
        |tok AS (SELECT doc_id, unnest($toks) AS term FROM documents),
        |tfq AS (SELECT tok.doc_id, tok.term, COUNT(*) AS tf FROM tok JOIN qd USING (term)
        | GROUP BY tok.doc_id, tok.term),
        |dl AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS dl FROM documents),
        |dft AS (SELECT term, COUNT(*) AS df FROM tfq GROUP BY term),
        |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len($toks)) AS BIGINT) AS sum_dl FROM documents),
        |sc AS (SELECT qt.query_id, tfq.doc_id, CAST(SUM(
        |   ((1000000 * n_docs) // df) *
        |   ((tf * (1200000 + 1000000) * 1000000) //
        |    (tf * 1000000 + (1200000 * ((1000000 - 750000) + (750000 * dl.dl * n_docs) // sum_dl)) // 1000000))
        |  ) AS BIGINT) AS score
        | FROM tfq JOIN qt USING (term) JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        | GROUP BY qt.query_id, tfq.doc_id)""".stripMargin.replace("\n", " ")
    // q162: the Scala-computed literal discount/prefix tables — both
    // engines consume the SAME integers, no float log anywhere in-plan
    val ndcgDiscVals = Ranking.ndcgDiscounts(10).zipWithIndex
      .map { case (d, i) => s"(CAST(${i + 1} AS BIGINT), CAST($d AS BIGINT))" }
      .mkString(", ")
    val ndcgPrefVals = Ranking.ndcgDiscounts(10).scanLeft(0L)(_ + _).tail.zipWithIndex
      .map { case (p, i) => s"(CAST(${i + 1} AS BIGINT), CAST($p AS BIGINT))" }
      .mkString(", ")
    // q167: the Scala-computed RBO suffix-weight table — both engines
    // consume the SAME integers (the q162 trick), no float power in-plan
    val rboSw = Ranking.rboSuffixWeights(10)
    val rboSwVals = rboSw.zipWithIndex
      .map { case (w, i) => s"(CAST(${i + 1} AS BIGINT), CAST($w AS BIGINT))" }
      .mkString(", ")
    val rboMaxS = rboSw.sum
    // q165: the three unrolled PageRank rounds (contribution fold + rank
    // update), each the exact SQL twin of one Components.pageRank round
    val prRounds = (1 to 3).map { i =>
      s"""c$i AS (SELECT e.dst AS id, SUM(r${i - 1}.r // od.deg) AS s
        | FROM e JOIN od USING (src) JOIN r${i - 1} ON r${i - 1}.id = e.src GROUP BY e.dst),
        |r$i AS (SELECT n.id, CAST(150000 + (850000 * COALESCE(c$i.s, 0)) // 1000000 AS BIGINT) AS r
        | FROM n LEFT JOIN c$i USING (id))""".stripMargin.replace("\n", " ")
    }.mkString(", ")
    Map(
      "q01_agg" ->
        """SELECT l_returnflag, l_linestatus,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
          | COUNT(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
          |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " "),
      "q02_topk_window" ->
        """SELECT l_returnflag, l_partkey, cnt, rnk FROM (
          | SELECT l_returnflag, l_partkey, COUNT(*) AS cnt,
          |  ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY COUNT(*) DESC, l_partkey) AS rnk
          | FROM lineitem GROUP BY l_returnflag, l_partkey)
          |WHERE rnk <= 5 ORDER BY l_returnflag, rnk""".stripMargin.replace("\n", " "),
      "q03_semijoin" ->
        """SELECT o_orderstatus, COUNT(*) AS n_orders,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
          |FROM orders WHERE EXISTS (
          | SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replace("\n", " "),
      "q04_antijoin" ->
        """SELECT c_custkey, c_name FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
          |ORDER BY c_custkey""".stripMargin.replace("\n", " "),
      "q05_join5" ->
        """SELECT n_name,
          | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name""".stripMargin.replace("\n", " "),
      "q06_filter_agg" ->
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          | AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin.replace("\n", " "),
      "q07_fullouter" ->
        """SELECT nationkey, COALESCE(n_customers, 0) AS n_customers, COALESCE(n_suppliers, 0) AS n_suppliers
          |FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
          |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
          |USING (nationkey) ORDER BY nationkey""".stripMargin.replace("\n", " "),
      "q08_union_distinct" ->
        """SELECT c_nationkey AS nationkey FROM customer
          |UNION SELECT s_nationkey AS nationkey FROM supplier
          |ORDER BY nationkey""".stripMargin.replace("\n", " "),
      "q09_orderby_limit" ->
        """SELECT o_orderkey, o_totalprice FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin.replace("\n", " "),
      "q10_argmax" ->
        """SELECT c_nationkey, c_custkey, c_acctbal FROM (
          | SELECT c_nationkey, c_custkey, c_acctbal,
          |  ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
          | FROM customer) WHERE rn = 1 ORDER BY c_nationkey""".stripMargin.replace("\n", " "),
      "q11_distinct" ->
        """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
          |ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " "),
      "q12_rollup_union" ->
        """SELECT segment, n_cust, sum_bal FROM (
          | SELECT c_mktsegment AS segment, COUNT(*) AS n_cust,
          |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
          | FROM customer GROUP BY 1
          | UNION ALL
          | SELECT 'ALL' AS segment, COUNT(*) AS n_cust,
          |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
          | FROM customer) ORDER BY segment""".stripMargin.replace("\n", " "),
      "q13_ttl_parse" ->
        """SELECT split_part(core, ' ', 1) AS s, split_part(core, ' ', 2) AS p,
          | regexp_extract(core, '^[^ ]+ [^ ]+ (.*)$', 1) AS o
          |FROM (SELECT left(line, length(line) - 2) AS core FROM (
          | SELECT '<http://n/' || n_nationkey || '> <http://p/name> "' || n_name || ' x" .' AS line
          | FROM nation)) ORDER BY s""".stripMargin.replace("\n", " "),
      "q14_blank_md5" ->
        """SELECT c_custkey, '_:' || md5(c_name) AS blank FROM customer
          |ORDER BY c_custkey""".stripMargin.replace("\n", " "),
      "q15_lang_tag" ->
        """SELECT doc_id, tagged, regexp_replace(tagged, '@[a-z]+$', '') AS stripped
          |FROM (SELECT doc_id, '"' || source || '"@' || lang AS tagged FROM documents)
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q16_datatype" ->
        s"""SELECT doc_id, o, v, $coerceT AS t FROM ($extractVT) ORDER BY doc_id""",
      "q17_typemap" ->
        (s"""SELECT doc_id,
          | CASE t WHEN '<uri>' THEN '[uid]'
          |  WHEN '<http://www.w3.org/2001/XMLSchema#date>' THEN 'datetime'
          |  WHEN '<http://www.w3.org/2001/XMLSchema#double>' THEN 'float'
          |  WHEN '<http://www.w3.org/2001/XMLSchema#integer>' THEN 'int'
          |  WHEN '<http://www.w3.org/2001/XMLSchema#string>' THEN 'string' END AS dtype,
          | CASE t WHEN '<uri>' THEN '@reverse'
          |  WHEN '<http://www.w3.org/2001/XMLSchema#date>' THEN '@index(day)'
          |  WHEN '<http://www.w3.org/2001/XMLSchema#double>' THEN '@index(float)'
          |  WHEN '<http://www.w3.org/2001/XMLSchema#integer>' THEN '@index(int)'
          |  WHEN '<http://www.w3.org/2001/XMLSchema#string>' THEN '@index(fulltext)' END AS dindex
          |FROM (SELECT doc_id, $coerceT AS t FROM ($extractVT)) ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "q31_geojson" ->
        """WITH g AS (SELECT '<http://part/' || p_partkey || '>' AS s,
          |  CAST(CAST(CAST(p_retailprice AS VARCHAR) AS FLOAT) AS VARCHAR) AS lat,
          |  CAST(CAST(CAST(p_size AS VARCHAR) AS FLOAT) AS VARCHAR) AS lon FROM part)
          |SELECT s, '"' || replace('{"type":"Point","coordinates":[' || lon || ',' || lat || ']}', '"', '\"') || '"^^<geo:geojson>' AS o
          |FROM g ORDER BY s""".stripMargin.replace("\n", " "),
      "q32_nodelang" ->
        """WITH o AS (SELECT CASE WHEN c_custkey % 7 = 0
          |  THEN '<http://dbpedia.org/resource/R' || c_custkey || '>'
          |  ELSE '<http://' || (['de','fr','en','es','zh'])[CAST(c_custkey % 5 AS INT) + 1] || '.dbpedia.org/resource/R' || c_custkey || '>' END AS o
          | FROM customer),
          |n AS (SELECT o, substr(split_part(o, '.', 1), 9) AS node_lang FROM o)
          |SELECT node_lang, COUNT(*) AS n FROM n
          |WHERE node_lang IN ('de','fr','en','dbpedia')
          |GROUP BY node_lang ORDER BY node_lang""".stripMargin.replace("\n", " "),
      "q34_schema_gen" ->
        """WITH tr AS (SELECT '<http://p/' || (p_partkey % 8) || '>' AS p,
          |  CASE WHEN p_partkey % 3 = 0 THEN '"' || p_size || '"^^<http://www.w3.org/2001/XMLSchema#integer>'
          |   WHEN p_partkey % 3 = 1 THEN '"' || p_brand || '"'
          |   ELSE '<http://o/' || p_partkey || '>' END AS o,
          |  (['de','en-de','fr'])[CAST(p_partkey % 3 AS INT) + 1] AS lang FROM part),
          |wt AS (SELECT p, lang,
          |  CASE WHEN o LIKE '<%' THEN '<uri>'
          |   WHEN regexp_matches(o, '\^\^[^^]*$') THEN
          |    (CASE WHEN regexp_extract(o, '\^\^([^^]*)$', 1) IN ('<uri>', '<http://www.w3.org/2001/XMLSchema#date>',
          |      '<http://www.w3.org/2001/XMLSchema#double>', '<http://www.w3.org/2001/XMLSchema#integer>',
          |      '<http://www.w3.org/2001/XMLSchema#string>') THEN regexp_extract(o, '\^\^([^^]*)$', 1)
          |      ELSE '<http://www.w3.org/2001/XMLSchema#string>' END)
          |   ELSE '<http://www.w3.org/2001/XMLSchema#string>' END AS t FROM tr),
          |win AS (SELECT p, t FROM (SELECT p, t, ROW_NUMBER() OVER (PARTITION BY p ORDER BY COUNT(*) DESC, t) AS k
          |  FROM wt GROUP BY p, t) WHERE k = 1),
          |inf AS (SELECT DISTINCT 'infobox_properties' AS dataset, wt.p AS p,
          |  CASE WHEN wt.lang LIKE '%-%' THEN 'en' ELSE wt.lang END AS lang,
          |  CASE win.t WHEN '<uri>' THEN '[uid]'
          |   WHEN '<http://www.w3.org/2001/XMLSchema#date>' THEN 'datetime'
          |   WHEN '<http://www.w3.org/2001/XMLSchema#double>' THEN 'float'
          |   WHEN '<http://www.w3.org/2001/XMLSchema#integer>' THEN 'int'
          |   ELSE 'string' END AS t,
          |  CASE (CASE win.t WHEN '<uri>' THEN '[uid]'
          |   WHEN '<http://www.w3.org/2001/XMLSchema#date>' THEN 'datetime'
          |   WHEN '<http://www.w3.org/2001/XMLSchema#double>' THEN 'float'
          |   WHEN '<http://www.w3.org/2001/XMLSchema#integer>' THEN 'int'
          |   ELSE 'string' END)
          |   WHEN '[uid]' THEN '@reverse' WHEN 'datetime' THEN '@index(day)'
          |   WHEN 'float' THEN '@index(float)' WHEN 'int' THEN '@index(int)'
          |   ELSE '@index(fulltext)' END AS i
          | FROM wt JOIN win ON wt.p = win.p),
          |static AS (SELECT * FROM (VALUES
          |  ('labels','<http://www.w3.org/2000/01/rdf-schema#label>','any','string @lang','@index(fulltext)'),
          |  ('article_categories','<http://purl.org/dc/terms/subject>','any','[uid]','@reverse'),
          |  ('skos_categories','<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>','any','uid','@reverse'),
          |  ('skos_categories','<http://www.w3.org/2004/02/skos/core#prefLabel>','any','string @lang','@index(fulltext)'),
          |  ('skos_categories','<http://www.w3.org/2004/02/skos/core#related>','any','[uid]','@reverse'),
          |  ('skos_categories','<http://www.w3.org/2004/02/skos/core#broader>','any','[uid]','@reverse'),
          |  ('interlanguage_links','<http://www.w3.org/2002/07/owl#sameAs>','any','[uid]','@reverse'),
          |  ('page_links','<http://dbpedia.org/ontology/wikiPageWikiLink>','any','[uid]','@reverse'),
          |  ('geo_coordinates','<http://www.georss.org/georss/point>','any','geo','@index(geo)')
          | ) v(dataset, p, lang, t, i))
          |SELECT dataset, p, lang, t, i FROM (
          | SELECT DISTINCT * FROM (SELECT * FROM static UNION ALL SELECT * FROM inf)
          | UNION ALL SELECT 'external_ids','<xid>','any','string','@index(exact)')
          |ORDER BY dataset, p, lang, t, i""".stripMargin.replace("\n", " "),
      "q35_stats_perlang" ->
        """WITH docs AS (SELECT doc_id, source,
          |  CASE WHEN lang IN ('zh','de') THEN 'en-' || lang ELSE lang END AS lang FROM documents),
          |a1 AS (SELECT lang, COUNT(*) AS all_docs FROM docs GROUP BY 1),
          |a2 AS (SELECT lang, COUNT(*) AS even_docs FROM docs WHERE doc_id % 2 = 0 GROUP BY 1),
          |a3 AS (SELECT lang, COUNT(*) AS early_src FROM docs WHERE source IN ('src0','src1','src2') GROUP BY 1),
          |wide AS (SELECT lang, all_docs, even_docs, early_src
          | FROM a1 FULL OUTER JOIN a2 USING (lang) FULL OUTER JOIN a3 USING (lang))
          |SELECT lang, all_docs, even_docs, early_src FROM wide WHERE lang NOT LIKE 'en-%'
          |UNION ALL
          |SELECT 'en-*' AS lang, CAST(SUM(all_docs) AS BIGINT) AS all_docs,
          | CAST(SUM(even_docs) AS BIGINT) AS even_docs, CAST(SUM(early_src) AS BIGINT) AS early_src
          |FROM wide WHERE lang LIKE 'en-%' HAVING COUNT(*) > 0
          |ORDER BY lang""".stripMargin.replace("\n", " "),
      "q36_subwords" ->
        """SELECT doc_id,
          | CAST(len(regexp_extract_all(text, '[A-Za-z]+')) + len(regexp_extract_all(text, '[0-9]+')) + len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_subwords,
          | CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens
          |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q37_srp_buckets" ->
        """SELECT vec_id, CAST(list_sum(list_transform(generate_series(0,7), p ->
          | CASE WHEN list_sum(list_transform(CAST(embedding AS DOUBLE[]), (x,i) ->
          |   x * CASE WHEN CAST(('0x' || substr(md5('p' || p || ':' || (i-1)),1,4)) AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END)) >= 0
          | THEN CAST(1 AS BIGINT) << p ELSE 0 END)) AS BIGINT) AS bucket
          |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin.replace("\n", " "),
      "q18_topk_pipeline" ->
        """WITH tr AS (SELECT '<http://s/' || l_orderkey || '>' AS s,
          |  '<http://p/' || (l_suppkey % 20) || '>' AS p,
          |  lower(l_returnflag || l_linestatus) AS lang FROM lineitem),
          |cnt AS (SELECT p, lang, COUNT(*) AS c,
          |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, p) AS k
          | FROM tr GROUP BY p, lang),
          |top AS (SELECT p, lang FROM cnt WHERE k <= 3)
          |SELECT lang, COUNT(*) AS n FROM tr
          |WHERE EXISTS (SELECT 1 FROM top WHERE top.p = tr.p AND top.lang = tr.lang)
          |GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " "),
      "q19_disambig" ->
        """WITH tr AS (SELECT '<http://s/' || o_orderkey || '>' AS s,
          |  '<http://p/' || (o_custkey % 10) || '>' AS p,
          |  CASE WHEN o_orderkey % 3 = 0 THEN '"' || o_orderkey || '"^^<http://www.w3.org/2001/XMLSchema#integer>'
          |   WHEN o_orderkey % 3 = 1 THEN '"txt' || o_orderkey || '"'
          |   ELSE '<http://ex/' || o_orderkey || '>' END AS o FROM orders),
          |wt AS (SELECT s, p,
          |  CASE WHEN o LIKE '<%' THEN o
          |   WHEN regexp_matches(o, '\^\^[^^]*$') THEN regexp_extract(o, '^(.*)\^\^[^^]*$', 1)
          |   ELSE o END AS v,
          |  CASE WHEN o LIKE '<%' THEN '<uri>'
          |   WHEN regexp_matches(o, '\^\^[^^]*$') THEN regexp_extract(o, '\^\^([^^]*)$', 1)
          |   ELSE '<http://www.w3.org/2001/XMLSchema#string>' END AS t FROM tr),
          |win AS (SELECT p, t FROM (SELECT p, t, COUNT(*) AS c,
          |  ROW_NUMBER() OVER (PARTITION BY p ORDER BY COUNT(*) DESC, t) AS k
          |  FROM wt GROUP BY p, t) WHERE k = 1)
          |SELECT s, p, CASE WHEN t = '<uri>' THEN v ELSE v || '^^' || t END AS o
          |FROM wt WHERE EXISTS (SELECT 1 FROM win WHERE win.p = wt.p AND win.t = wt.t)
          | AND NOT (t = '<http://www.w3.org/2001/XMLSchema#date>' AND v LIKE '"-%')
          |ORDER BY s, p""".stripMargin.replace("\n", " "),
      "q38_range_join" ->
        """SELECT o_orderstatus, COUNT(*) AS n FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          | AND l_shipdate >= o_orderdate
          | AND l_shipdate < o_orderdate + INTERVAL 60 DAY
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replace("\n", " "),
      "q39_asof" ->
        """WITH r AS (SELECT o_custkey AS user_id, o_orderdate, MAX(o_totalprice) AS o_totalprice
          | FROM orders GROUP BY 1, 2)
          |SELECT e.event_id, r.o_totalprice AS asof_o_totalprice
          |FROM events e ASOF LEFT JOIN r
          | ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
          |ORDER BY e.event_id""".stripMargin.replace("\n", " "),
      "q40_embedding_neardup" ->
        """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
          |  CAST(list_sum(list_transform(generate_series(0,3), p ->
          |   CASE WHEN list_sum(list_transform(CAST(embedding AS DOUBLE[]), (x,i) ->
          |     x * CASE WHEN CAST(('0x' || substr(md5('p' || p || ':' || (i-1)),1,4)) AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END)) >= 0
          |   THEN CAST(1 AS BIGINT) << p ELSE 0 END)) AS BIGINT) AS bucket
          | FROM embeddings WHERE vec_id < 200)
          |SELECT a.id AS id_a, b.id AS id_b FROM e a JOIN e b
          | ON a.bucket = b.bucket AND a.id < b.id
          |WHERE COALESCE(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), -1.0) >= 0.2
          |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
      "q41_shingle_minhash" ->
        """WITH s AS (SELECT doc_id,
          |  list_transform(list_transform(generate_series(1, length(text) - 4), i -> substr(text, i, 5)), x -> md5(x)) AS h
          | FROM documents)
          |SELECT doc_id,
          | list_min(list_transform(h, x -> substr(x, 1, 16))) AS sh0,
          | list_min(list_transform(h, x -> substr(x, 17, 16))) AS sh1
          |FROM s ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q42_ivf_topk" ->
        """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings WHERE vec_id < 300),
          |c AS (SELECT id AS cid, v AS cv FROM e WHERE id < 8),
          |sim AS (SELECT e.id, e.v, c.cid,
          |  COALESCE(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), -1.0) AS csim
          | FROM e, c),
          |asg AS (SELECT id, v, cid FROM (SELECT id, v, cid,
          |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cid) AS rn FROM sim) WHERE rn = 1),
          |qp AS (SELECT id AS q_id, v AS qv, cid FROM (SELECT id, v, cid,
          |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cid) AS rn FROM sim WHERE id < 5) WHERE rn <= 2),
          |cand AS (SELECT qp.q_id, qp.qv, asg.id AS n_id, asg.v AS nv
          | FROM qp JOIN asg ON qp.cid = asg.cid WHERE asg.id <> qp.q_id),
          |r AS (SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
          |  COALESCE(list_dot_product(qv, nv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))), -1.0) DESC, n_id) AS rnk
          | FROM cand)
          |SELECT q_id, n_id, rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin.replace("\n", " "),
      "q43_salted_join" ->
        """SELECT s_name, COUNT(*) AS n,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |GROUP BY s_name ORDER BY s_name""".stripMargin.replace("\n", " "),
      "q44_cube" ->
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin.replace("\n", " "),
      "q45_pivot" ->
        """SELECT l_returnflag,
          | CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
          | CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
      "q46_explode" ->
        s"""SELECT word, COUNT(*) AS n
          |FROM (SELECT unnest($toks) AS word FROM documents)
          |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin.replace("\n", " "),
      "q47_setops" ->
        """WITH withorders AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
          |rich AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000)
          |SELECT custkey, 'both' AS side FROM (SELECT custkey FROM withorders INTERSECT SELECT custkey FROM rich)
          |UNION ALL
          |SELECT custkey, 'orders_only' AS side FROM (SELECT custkey FROM withorders EXCEPT SELECT custkey FROM rich)
          |ORDER BY side, custkey""".stripMargin.replace("\n", " "),
      "q48_external_ids" ->
        """WITH u AS (
          | SELECT '<http://de.dbpedia.org/resource/R' || n_nationkey || '>' AS s, 'de' AS lang FROM nation
          | UNION SELECT '<http://de.dbpedia.org/resource/R' || n_nationkey || '>', 'de' FROM nation WHERE n_nationkey % 2 = 0
          | UNION SELECT '<http://de.dbpedia.org/resource/R' || (s_suppkey % 10) || '>', 'de' FROM supplier
          | UNION SELECT '<http://fr.dbpedia.org/resource/Q' || s_suppkey || '>', 'de' FROM supplier
          | UNION SELECT '<http://de.dbpedia.org/resource/R' || s_suppkey || '>', 'de' FROM supplier
          | UNION SELECT '<http://de.dbpedia.org/resource/R' || (s_suppkey % 3) || '>', 'de' FROM supplier
          | UNION SELECT '<http://de.dbpedia.org/resource/R' || n_nationkey || '>', 'de' FROM nation WHERE n_nationkey % 3 = 0
          | UNION SELECT '<http://de.dbpedia.org/resource/Cat' || n_nationkey || '>', 'de' FROM nation WHERE n_nationkey % 3 = 0
          | UNION SELECT '<http://de.dbpedia.org/resource/Cat' || n_nationkey || '>', 'de' FROM nation
          | UNION SELECT '<http://de.dbpedia.org/resource/Cat' || (n_nationkey % 7) || '>', 'de' FROM nation WHERE n_nationkey % 2 = 0
          | UNION SELECT '<http://www.w3.org/2004/02/skos/core#Concept>', 'any'
          | UNION SELECT '<http://de.dbpedia.org/resource/R' || n_nationkey || '>', 'de' FROM nation WHERE n_nationkey % 5 = 0)
          |SELECT '_:' || md5(s) AS s, '<xid>' AS p,
          | '"' || substr(s, 2, length(s) - 2) || '"' AS o, lang
          |FROM u ORDER BY s, o, lang""".stripMargin.replace("\n", " "),
      "q49_types" ->
        """WITH art AS (
          | SELECT '<http://de.dbpedia.org/resource/R' || n_nationkey || '>' AS s, 'de' AS lang FROM nation
          | UNION SELECT '<http://de.dbpedia.org/resource/R' || (n_nationkey % 7) || '>', 'de' FROM nation
          | UNION SELECT '<http://de.dbpedia.org/resource/R' || (n_nationkey % 5) || '>', 'de' FROM nation
          | UNION SELECT '<http://de.dbpedia.org/resource/R' || n_nationkey || '>', 'de' FROM nation
          | UNION SELECT '<http://de.dbpedia.org/resource/R' || (n_nationkey % 3) || '>', 'de' FROM nation
          | UNION SELECT '<http://de.dbpedia.org/resource/R' || (n_nationkey % 11) || '>', 'de' FROM nation),
          |types AS (
          | SELECT s, '<dgraph.type>' AS p, '"Article"' AS o, lang FROM art
          | UNION ALL
          | SELECT '<http://de.dbpedia.org/resource/Cat' || (n_nationkey % 4) || '>', '<dgraph.type>', '"Category"', 'de' FROM nation
          | UNION ALL
          | SELECT '<http://de.dbpedia.org/resource/Cat' || (n_nationkey % 4) || '>', '<dgraph.type>', '"Concept"', 'de' FROM nation WHERE n_nationkey % 2 = 0)
          |SELECT DISTINCT s, p, o, lang FROM types ORDER BY s, o""".stripMargin.replace("\n", " "),
      "q50_skos_cleanup" ->
        """WITH tr AS (SELECT
          |  '<http://de.dbpedia.org/resource/Cat' || n_nationkey || '>' AS s,
          |  CASE WHEN n_nationkey % 2 = 0 THEN '<http://www.w3.org/2004/02/skos/core#prefLabel>'
          |   ELSE '<http://www.w3.org/2004/02/skos/core#broader>' END AS p,
          |  CASE WHEN n_nationkey % 2 = 0 THEN '"' || n_name || '"@de'
          |   ELSE '<http://de.dbpedia.org/resource/Cat' || (n_nationkey % 5) || '>' END AS o,
          |  'de' AS lang FROM nation)
          |SELECT '_:' || md5(s) AS s, p,
          | CASE WHEN p = '<http://www.w3.org/2004/02/skos/core#prefLabel>'
          |  THEN regexp_replace(o, '@[a-z]+$', '')
          |  ELSE '_:' || md5(o) END AS o, lang
          |FROM tr ORDER BY s, p, o""".stripMargin.replace("\n", " "),
      "q51_window_analytics" ->
        """SELECT o_custkey, o_orderkey,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
          | LAG(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_orderkey,
          | CAST(DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS BIGINT) AS prio_rank
          |FROM orders WHERE o_custkey < 30
          |ORDER BY o_custkey, o_orderkey""".stripMargin.replace("\n", " "),
      "q20_dedup_exact" ->
        """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper, COUNT(*) AS n_docs
          |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin.replace("\n", " "),
      "q21_minhash" ->
        s"""SELECT doc_id, ${mh("0")} AS mh0, ${mh("1")} AS mh1, ${mh("2")} AS mh2, ${mh("3")} AS mh3
          |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q22_lsh_pairs" ->
        s"""WITH sig AS (SELECT doc_id, md5(${mh("0")} || '|' || ${mh("1")}) AS band FROM documents),
          |ok AS (SELECT band FROM sig GROUP BY band HAVING COUNT(*) <= 1000)
          |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |FROM sig a JOIN sig b USING (band) WHERE a.doc_id < b.doc_id
          | AND a.band IN (SELECT band FROM ok)
          |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
      "q59_decontaminate" ->
        s"""WITH ng AS (SELECT doc_id,
          |  CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 7),
          |    i -> array_to_string(list_slice($toks, i, i + 7), ' ')))), 1, 15)) AS BIGINT) AS ngh
          | FROM documents),
          |bench AS (SELECT DISTINCT ngh FROM ng WHERE doc_id % 37 = 0),
          |corpus AS (SELECT doc_id, ngh FROM ng WHERE doc_id % 37 <> 0)
          |SELECT doc_id, COUNT(DISTINCT corpus.ngh) AS n_hits
          |FROM corpus JOIN bench ON corpus.ngh = bench.ngh
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q65_exact_substr" ->
        s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
          |ph AS (SELECT doc_id, unnest(generate_series(1, len(t) - 15)) AS pos, t FROM tk),
          |dh AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
          |  CAST(('0x' || substr(md5(array_to_string(list_slice(t, pos, pos + 15), ' ')), 1, 15)) AS BIGINT) AS ngh
          | FROM ph),
          |dup AS (SELECT ngh FROM dh GROUP BY ngh HAVING COUNT(*) >= 2),
          |dp AS (SELECT doc_id, pos FROM dh JOIN dup USING (ngh)),
          |fl AS (SELECT doc_id, pos,
          |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 16
          |   THEN 0 ELSE 1 END AS ns
          | FROM dp),
          |sp AS (SELECT doc_id, pos,
          |  SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
          | FROM fl)
          |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 15 AS span_end
          |FROM sp GROUP BY doc_id, island
          |ORDER BY doc_id, span_start""".stripMargin.replace("\n", " "),
      "q60_stratified_sample" ->
        """SELECT doc_id, lang FROM documents
          |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0
          | < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q61_pii" ->
        """WITH d AS (SELECT doc_id, text ||
          |  CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
          |  CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.1 and +1 555 0100 ' || (doc_id % 100) ELSE '' END AS text
          | FROM documents)
          |SELECT doc_id,
          | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          | CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
          | CAST(len(regexp_extract_all(text, '\+[0-9][0-9 -]{7,}[0-9]')) AS BIGINT) AS n_phones
          |FROM d ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q62_repetition" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
          |cnt AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w),
          |agg AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS n_distinct,
          |  CAST(SUM(c) AS DOUBLE) AS n, CAST(MAX(c) AS DOUBLE) AS mx
          | FROM cnt GROUP BY doc_id)
          |SELECT doc_id, n_distinct / n AS distinct_ratio, mx / n AS top_token_frac
          |FROM agg ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q63_token_shards" ->
        s"""WITH d AS (SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_tok FROM documents),
          |r AS (SELECT doc_id, lang, n_tok,
          |  CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
          |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS running
          | FROM d)
          |SELECT doc_id, lang, n_tok, running, CAST(running // 50000 AS BIGINT) AS shard
          |FROM r ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q58_dedup_clusters" ->
        s"""WITH RECURSIVE sig AS (SELECT doc_id, md5(${mh("0")} || '|' || ${mh("1")}) AS band FROM documents),
          |ok AS (SELECT band FROM sig GROUP BY band HAVING COUNT(*) <= 1000),
          |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          | FROM sig a JOIN sig b USING (band)
          | WHERE a.doc_id < b.doc_id AND a.band IN (SELECT band FROM ok)),
          |ee AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
          |reach AS (
          | SELECT doc_id AS id, doc_id AS lab FROM documents
          | UNION
          | SELECT ee.dst AS id, reach.lab FROM reach JOIN ee ON reach.id = ee.src)
          |SELECT id AS doc_id, MIN(lab) AS canonical_id FROM reach GROUP BY id
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q64_cc_star" ->
        s"""WITH RECURSIVE sig AS (SELECT doc_id, md5(${mh("0")}) AS band FROM documents),
          |sz AS (SELECT band, COUNT(*) AS c FROM sig GROUP BY band HAVING COUNT(*) >= 2),
          |salted AS (SELECT s.doc_id,
          |  CASE WHEN CAST(ceil(c / 100.0) AS BIGINT) > 1
          |   THEN md5(s.band || '#' || CAST(
          |     CAST(('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          |       % CAST(ceil(c / 100.0) AS BIGINT) AS VARCHAR))
          |   ELSE s.band END AS band
          | FROM sig s JOIN sz ON s.band = sz.band),
          |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          | FROM salted a JOIN salted b ON a.band = b.band AND a.doc_id < b.doc_id),
          |ee AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
          |reach AS (
          | SELECT doc_id AS id, doc_id AS lab FROM documents
          | UNION
          | SELECT ee.dst AS id, reach.lab FROM reach JOIN ee ON reach.id = ee.src)
          |SELECT id AS doc_id, MIN(lab) AS canonical_id FROM reach GROUP BY id
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q23_simhash" ->
        s"""WITH tok AS (SELECT doc_id, CAST(('0x' || substr(md5(w),1,8)) AS BIGINT) AS h
          | FROM (SELECT doc_id, unnest($toks) AS w FROM documents)),
          |votes AS (SELECT doc_id, j, SUM(CASE WHEN (h >> j) % 2 = 1 THEN 1 ELSE -1 END) AS v
          | FROM tok, (SELECT unnest(generate_series(0,31)) AS j) g GROUP BY doc_id, j)
          |SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
          |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q24_jaccard" ->
        s"""WITH d AS (SELECT doc_id,
          |  list_distinct(list_transform($toks, w -> CAST(('0x' || substr(md5(w),1,8)) AS BIGINT))) AS toks,
          |  md5(${mh("0")} || '|' || ${mh("1")}) AS band
          | FROM documents),
          |ok AS (SELECT band FROM d GROUP BY band HAVING COUNT(*) <= 1000),
          |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE) /
          |  CAST(len(a.toks) + len(b.toks) - len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE) AS jac
          | FROM d a JOIN d b ON a.band = b.band AND a.doc_id < b.doc_id
          | WHERE a.band IN (SELECT band FROM ok))
          |SELECT id_a, id_b, jac FROM p WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
      "q56_winnow" ->
        """WITH s AS (SELECT doc_id,
          |  list_transform(generate_series(1, length(text) - 4), i ->
          |    CAST(('0x' || substr(md5(substr(text, i, 5)), 1, 8)) AS BIGINT)) AS h
          | FROM documents),
          |f AS (SELECT doc_id,
          |  CASE WHEN len(h) >= 8 THEN
          |    list_sort(list_distinct(list_transform(generate_series(1, len(h) - 7), i -> list_min(h[i:i+7]))))
          |  ELSE NULL END AS fp
          | FROM s)
          |SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp,
          | CASE WHEN fp IS NULL THEN NULL ELSE md5(array_to_string(fp, ',')) END AS fp_digest
          |FROM f ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q57_winnow_pairs" ->
        """WITH s AS (SELECT doc_id,
          |  list_transform(generate_series(1, length(text) - 4), i ->
          |    CAST(('0x' || substr(md5(substr(text, i, 5)), 1, 8)) AS BIGINT)) AS h
          | FROM documents),
          |f AS (SELECT doc_id,
          |  CASE WHEN len(h) >= 8 THEN
          |    list_sort(list_distinct(list_transform(generate_series(1, len(h) - 7), i -> list_min(h[i:i+7]))))
          |  ELSE NULL END AS fp
          | FROM s),
          |e AS (SELECT doc_id, unnest(fp) AS band FROM f WHERE fp IS NOT NULL),
          |ok AS (SELECT band FROM e GROUP BY band HAVING COUNT(*) <= 50),
          |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          | FROM e a JOIN e b ON a.band = b.band AND a.doc_id < b.doc_id
          | WHERE a.band IN (SELECT band FROM ok))
          |SELECT id_a, id_b FROM p ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
      "q55_lsh_salted" ->
        s"""WITH sig AS (SELECT doc_id, md5(${mh("0")}) AS band FROM documents),
          |sz AS (SELECT band, COUNT(*) AS c FROM sig GROUP BY band HAVING COUNT(*) >= 2),
          |salted AS (SELECT s.doc_id,
          |  CASE WHEN CAST(ceil(c / 100.0) AS BIGINT) > 1
          |   THEN md5(s.band || '#' || CAST(
          |     CAST(('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          |       % CAST(ceil(c / 100.0) AS BIGINT) AS VARCHAR))
          |   ELSE s.band END AS band
          | FROM sig s JOIN sz ON s.band = sz.band)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |FROM salted a JOIN salted b ON a.band = b.band AND a.doc_id < b.doc_id
          |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
      "q52_multimodal_plan" ->
        """WITH m AS (SELECT doc_id AS media_id,
          |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
          |  320 + n_chars % 1600 AS width, 240 + (n_chars * 7) % 900 AS height,
          |  n_chars * 40 AS duration_ms
          | FROM documents),
          |r AS (SELECT media_id, 'resize' AS op,
          |  CAST(round(CAST(width AS DOUBLE) * least(1.0, 512.0 / CAST(greatest(width, height) AS DOUBLE))) AS BIGINT) AS p1,
          |  CAST(round(CAST(height AS DOUBLE) * least(1.0, 512.0 / CAST(greatest(width, height) AS DOUBLE))) AS BIGINT) AS p2
          | FROM m WHERE modality = 'image'),
          |f AS (SELECT media_id, 'frame' AS op,
          |  CAST(unnest(generate_series(0, duration_ms, 2500)) AS BIGINT) AS p1,
          |  CAST(NULL AS BIGINT) AS p2
          | FROM m WHERE modality = 'video')
          |SELECT media_id, op, p1, p2 FROM (SELECT * FROM r UNION ALL SELECT * FROM f)
          |ORDER BY media_id, op, p1""".stripMargin.replace("\n", " "),
      "q54_multimodal_features" ->
        """SELECT doc_id AS media_id,
          | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
          | CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
          | CAST(CAST(('0x' || substr(md5(coalesce(text, '')), 1, 2)) AS INT) - 128 AS DOUBLE) / 128 AS e0,
          | CAST(CAST(('0x' || substr(md5(coalesce(text, '')), 3, 2)) AS INT) - 128 AS DOUBLE) / 128 AS e1,
          | CAST(CAST(('0x' || substr(md5(coalesce(text, '')), 5, 2)) AS INT) - 128 AS DOUBLE) / 128 AS e2
          |FROM documents ORDER BY media_id""".stripMargin.replace("\n", " "),
      "q53_lsh_guard" ->
        s"""WITH s0 AS (SELECT doc_id, md5(${mh("0")}) AS band FROM documents),
          |s1 AS (SELECT doc_id, md5(${mh("1")}) AS band FROM documents),
          |ok0 AS (SELECT band FROM s0 GROUP BY band HAVING COUNT(*) <= 100),
          |ok1 AS (SELECT band FROM s1 GROUP BY band HAVING COUNT(*) <= 100),
          |p AS (
          | SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM s0 a JOIN s0 b
          |  ON a.band = b.band AND a.doc_id < b.doc_id WHERE a.band IN (SELECT band FROM ok0)
          | UNION
          | SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM s1 a JOIN s1 b
          |  ON a.band = b.band AND a.doc_id < b.doc_id WHERE a.band IN (SELECT band FROM ok1))
          |SELECT id_a, id_b FROM p ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
      "q25_cosine_topk" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          |  COALESCE(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), -1.0) AS cos
          | FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
          |r AS (SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM s)
          |SELECT q_id, n_id, rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin.replace("\n", " "),
      "q26_langid" ->
        s"""WITH q AS (SELECT doc_id, lang, $toks AS toks FROM documents),
          |sc AS (SELECT doc_id, lang,
          |  len(list_filter(toks, w -> w IN ('the','a','of','and','to','is'))) AS s_en,
          |  len(list_filter(toks, w -> w IN ('der','die','das','und','ist'))) AS s_de,
          |  len(list_filter(toks, w -> w IN ('el','la','de','y','es'))) AS s_es,
          |  len(list_filter(toks, w -> w IN ('le','la','de','et','est'))) AS s_fr
          | FROM q)
          |SELECT doc_id, lang,
          | CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
          |  WHEN s_de > 0 AND s_de > s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
          |  WHEN s_es > 0 AND s_es > s_en AND s_es > s_de AND s_es >= s_fr THEN 'es'
          |  WHEN s_fr > 0 AND s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
          |  ELSE 'und' END AS lang_guess
          |FROM sc ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q27_quality" ->
        s"""WITH q AS (SELECT doc_id, text, $toks AS toks,
          |  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
          |  length(regexp_replace(text, '\\s', '', 'g')) AS n_nonws FROM documents)
          |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          | CAST(n_nonws AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len,
          | CAST(len(list_filter(toks, w -> w IN ('the','a','of','and','to','is'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
          | CAST(n_alpha AS DOUBLE) / CAST(length(text) AS DOUBLE) AS alpha_ratio
          |FROM q ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q28_fingerprint" ->
        s"""SELECT doc_id, md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS fp
          |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q29_events_tumbling" ->
        """SELECT CAST(FLOOR(epoch(ts)/3600)*3600 AS BIGINT) AS bucket, event_type,
          | COUNT(*) AS n_events,
          | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin.replace("\n", " "),
      "q30_sessions" ->
        """WITH x AS (SELECT user_id, ts,
          |  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events)
          |SELECT user_id,
          | CAST(SUM(CASE WHEN prev IS NULL OR FLOOR(epoch(ts)) - FLOOR(epoch(prev)) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
          | COUNT(*) AS n_events
          |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "),
      // q40's SRP + cosine pair SQL closed into components by q58's
      // recursive-CTE shape; kept = 1 iff the row is its cluster's min id
      "q66_semdedup" ->
        """WITH RECURSIVE e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
          |  CAST(list_sum(list_transform(generate_series(0,3), p ->
          |   CASE WHEN list_sum(list_transform(CAST(embedding AS DOUBLE[]), (x,i) ->
          |     x * CASE WHEN CAST(('0x' || substr(md5('p' || p || ':' || (i-1)),1,4)) AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END)) >= 0
          |   THEN CAST(1 AS BIGINT) << p ELSE 0 END)) AS BIGINT) AS bucket
          | FROM embeddings WHERE vec_id < 200),
          |pr AS (SELECT a.id AS id_a, b.id AS id_b FROM e a JOIN e b
          | ON a.bucket = b.bucket AND a.id < b.id
          | WHERE COALESCE(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), -1.0) >= 0.2),
          |ee AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
          |reach AS (
          | SELECT id, id AS lab FROM e
          | UNION
          | SELECT ee.dst AS id, reach.lab FROM reach JOIN ee ON reach.id = ee.src)
          |SELECT id, MIN(lab) AS canonical_id, CAST(id = MIN(lab) AS BIGINT) AS kept
          |FROM reach GROUP BY id ORDER BY id""".stripMargin.replace("\n", " "),
      "q67_tfidf" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS term FROM documents),
          |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
          |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
          |n AS (SELECT COUNT(*) AS n_docs FROM documents),
          |s AS (SELECT doc_id, term, tf, df, tf * ((1000000 * n_docs) // df) AS score
          | FROM tf JOIN df USING (term), n),
          |r AS (SELECT doc_id, term, tf, df, score,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rnk FROM s)
          |SELECT doc_id, term, tf, df, score, rnk FROM r WHERE rnk <= 3
          |ORDER BY doc_id, rnk""".stripMargin.replace("\n", " "),
      // the Bloom prefilter has no false negatives, so the oracle is the
      // EXACT decontamination SQL (q59's shape, n=6, mod-23 split)
      "q68_bloom_decontaminate" ->
        s"""WITH ng AS (SELECT doc_id,
          |  CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 5),
          |    i -> array_to_string(list_slice($toks, i, i + 5), ' ')))), 1, 15)) AS BIGINT) AS ngh
          | FROM documents),
          |bench AS (SELECT DISTINCT ngh FROM ng WHERE doc_id % 23 = 0),
          |hits AS (SELECT DISTINCT doc_id FROM ng
          | WHERE doc_id % 23 <> 0 AND ngh IN (SELECT ngh FROM bench))
          |SELECT doc_id FROM documents
          |WHERE doc_id % 23 <> 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q74: q65's span CTE chain, then SQL token surgery — every token
      // position inside a span is dropped and the rest re-joined in order
      "q74_trim_spans" ->
        s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
          |ph AS (SELECT doc_id, unnest(generate_series(1, len(t) - 15)) AS pos, t FROM tk),
          |dh AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
          |  CAST(('0x' || substr(md5(array_to_string(list_slice(t, pos, pos + 15), ' ')), 1, 15)) AS BIGINT) AS ngh
          | FROM ph),
          |dup AS (SELECT ngh FROM dh GROUP BY ngh HAVING COUNT(*) >= 2),
          |dp AS (SELECT doc_id, pos FROM dh JOIN dup USING (ngh)),
          |fl AS (SELECT doc_id, pos,
          |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 16
          |   THEN 0 ELSE 1 END AS ns
          | FROM dp),
          |sp AS (SELECT doc_id, pos,
          |  SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
          | FROM fl),
          |spans AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 15 AS span_end
          | FROM sp GROUP BY doc_id, island),
          |tok AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS p, t FROM tk),
          |kept AS (SELECT doc_id, p, t[p] AS w FROM tok
          | WHERE NOT EXISTS (SELECT 1 FROM spans s
          |  WHERE s.doc_id = tok.doc_id AND tok.p >= s.span_start AND tok.p <= s.span_end)),
          |agg AS (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS text_trimmed
          | FROM kept GROUP BY doc_id)
          |SELECT d.doc_id, COALESCE(a.text_trimmed, '') AS text_trimmed
          |FROM documents d LEFT JOIN agg a USING (doc_id)
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q75: identical result contract to q68 (Bloom has no false
      // negatives), different physical path — same exact oracle
      "q75_bloom_join_decontaminate" ->
        s"""WITH ng AS (SELECT doc_id,
          |  CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 5),
          |    i -> array_to_string(list_slice($toks, i, i + 5), ' ')))), 1, 15)) AS BIGINT) AS ngh
          | FROM documents),
          |bench AS (SELECT DISTINCT ngh FROM ng WHERE doc_id % 23 = 0),
          |hits AS (SELECT DISTINCT doc_id FROM ng
          | WHERE doc_id % 23 <> 0 AND ngh IN (SELECT ngh FROM bench))
          |SELECT doc_id FROM documents
          |WHERE doc_id % 23 <> 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q76: the top-V cut orders (count DESC, token ASC) — a total order,
      // so both engines take the identical vocabulary; all math is BIGINT
      "q76_unigram_rarity" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
          |cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
          |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM cnt),
          |v AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 100),
          |r AS (SELECT t.doc_id,
          |  COALESCE((1000000 * n.n_total) // v.c, 1000000 * n.n_total) AS rar
          | FROM tok t LEFT JOIN v USING (w) CROSS JOIN n)
          |SELECT doc_id, CAST(SUM(rar) AS BIGINT) AS rarity_sum,
          | COUNT(*) AS n_tok
          |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q77: md5 is byte-identical across engines, doc ids are unique, so
      // the per-stratum hash ranking is a total order both engines share
      "q77_stratified_fixed_k" ->
        """WITH r AS (SELECT doc_id, lang,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY lang
          |    ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)) AS BIGINT) AS smp_rank
          | FROM documents)
          |SELECT doc_id, lang, smp_rank FROM r WHERE smp_rank <= 25
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q78: the hash fraction is a 32-bit integer over 2^32 — exact in
      // double on both engines. The val cut is written as 0.8 + 0.1 (not
      // 0.9) to reproduce hashSplit's cumulative-sum double EXACTLY —
      // 0.8 + 0.1 = 0.9000000000000001 in IEEE754, and mirroring the
      // arithmetic (not the intended value) is what makes boundary grid
      // points compare identically in both engines
      "q78_hash_split" ->
        """WITH h AS (SELECT doc_id,
          |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 AS f
          | FROM documents)
          |SELECT doc_id,
          | CASE WHEN f < 0.8 THEN 'train' WHEN f < (0.8 + 0.1) THEN 'val' ELSE 'test' END AS split
          |FROM h ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q79/q80: PQ codes and ADC ranks are integer-exact cross-engine —
      // the argmin distances (cdot - 2·dot, sequential double folds on
      // both engines) and the 1e-9 fixed-point ADC terms reproduce the
      // Spark arithmetic operation for operation; the per-pair ADC is a
      // SUM of BIGINTs, so its value is order-free
      "q79_pq_encode" ->
        s"""$pqCommon
          |SELECT id, MAX(CASE WHEN s = 0 THEN code END) AS c0,
          | MAX(CASE WHEN s = 1 THEN code END) AS c1,
          | MAX(CASE WHEN s = 2 THEN code END) AS c2,
          | MAX(CASE WHEN s = 3 THEN code END) AS c3
          |FROM asg GROUP BY id ORDER BY id""".stripMargin.replace("\n", " "),
      "q80_pq_topk" ->
        s"""$pqCommon,
          |q AS (SELECT id AS q_id, s, sv AS qv FROM sub WHERE id < 5),
          |terms AS (SELECT q.q_id, asg.id AS n_id,
          |  CAST(FLOOR(1e9 * (cb.cdot - 2*list_dot_product(q.qv, cb.cv))) AS BIGINT) AS t
          | FROM q JOIN asg ON q.s = asg.s JOIN cb ON cb.s = asg.s AND cb.code = asg.code
          | WHERE asg.id <> q.q_id),
          |adc AS (SELECT q_id, n_id, SUM(t) AS d FROM terms GROUP BY q_id, n_id)
          |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk FROM (
          | SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rnk FROM adc)
          |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin.replace("\n", " "),
      // q83: q73's chain with the PII stage replaced by the composed
      // quality gate (q81's integer rule stack over the source-gated pool
      // s1 — rarity vocabulary and total come from s1, mirroring the
      // operator's input frame); everything downstream is q73 verbatim
      "q83_curate_gated" ->
        s"""WITH RECURSIVE d AS (SELECT doc_id, lang, source, text ||
          |  CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
          |  CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.1 and +1 555 0100 ' || (doc_id % 100) ELSE '' END AS text
          | FROM documents),
          |pool AS (SELECT * FROM d WHERE doc_id % 37 <> 0),
          |g AS (SELECT source FROM pool GROUP BY source
          | HAVING COUNT(*) >= 20
          |  AND SUM(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) * 10000 >= SUM(length(text)) * 8100),
          |s1 AS (SELECT * FROM pool WHERE source IN (SELECT source FROM g)),
          |tok1 AS (SELECT doc_id, unnest($toks) AS w FROM s1),
          |dc1 AS (SELECT doc_id, w, COUNT(*) AS c FROM tok1 GROUP BY doc_id, w),
          |rep1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nd,
          |  CAST(SUM(c) AS BIGINT) AS nt, CAST(MAX(c) AS BIGINT) AS mx
          | FROM dc1 GROUP BY doc_id),
          |cnt1 AS (SELECT w, COUNT(*) AS c FROM tok1 GROUP BY w),
          |n1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM cnt1),
          |v1 AS (SELECT w, c FROM cnt1 ORDER BY c DESC, w LIMIT 100),
          |rs1 AS (SELECT t.doc_id, CAST(SUM(COALESCE((1000000 * n1.n_total) // v1.c,
          |   1000000 * n1.n_total)) AS BIGINT) AS rsum, COUNT(*) AS rtok
          | FROM tok1 t LEFT JOIN v1 USING (w) CROSS JOIN n1 GROUP BY t.doc_id),
          |base1 AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS ntok,
          |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS na,
          |  CAST(length(text) AS BIGINT) AS nc,
          |  CAST($piiCount AS BIGINT) AS npii
          | FROM s1),
          |s2 AS (SELECT s1.* FROM s1 JOIN base1 USING (doc_id)
          |  LEFT JOIN rep1 USING (doc_id) LEFT JOIN rs1 USING (doc_id)
          | WHERE base1.ntok >= 20 AND base1.ntok <= 100000
          |  AND base1.na * 10000 >= base1.nc * 8150
          |  AND base1.npii <= 0
          |  AND COALESCE(rep1.nd * 10000 >= rep1.nt * 3500 AND rep1.mx * 10000 <= rep1.nt * 1200, TRUE)
          |  AND COALESCE(rs1.rsum <= rs1.rtok * 32000000, TRUE)),
          |ex AS (SELECT MIN(doc_id) AS doc_id FROM s2 GROUP BY md5(text)),
          |s3 AS (SELECT * FROM s2 WHERE doc_id IN (SELECT doc_id FROM ex)),
          |sig AS (SELECT doc_id, md5(${mh("0")} || '|' || ${mh("1")}) AS band FROM s3),
          |ok AS (SELECT band FROM sig GROUP BY band HAVING COUNT(*) <= 1000),
          |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          | FROM sig a JOIN sig b USING (band)
          | WHERE a.doc_id < b.doc_id AND a.band IN (SELECT band FROM ok)),
          |ee AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
          |reach AS (
          | SELECT doc_id AS id, doc_id AS lab FROM s3
          | UNION
          | SELECT ee.dst AS id, reach.lab FROM reach JOIN ee ON reach.id = ee.src),
          |cc AS (SELECT id, MIN(lab) AS canon FROM reach GROUP BY id),
          |s4 AS (SELECT s3.* FROM s3 JOIN cc ON s3.doc_id = cc.id AND s3.doc_id = cc.canon),
          |bg AS (SELECT DISTINCT CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 7),
          |   i -> array_to_string(list_slice($toks, i, i + 7), ' ')))), 1, 15)) AS BIGINT) AS ngh
          | FROM d WHERE doc_id % 37 = 0),
          |hit AS (SELECT DISTINCT doc_id FROM (
          |  SELECT doc_id, CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 7),
          |    i -> array_to_string(list_slice($toks, i, i + 7), ' ')))), 1, 15)) AS BIGINT) AS ngh
          |  FROM s4) x WHERE ngh IN (SELECT ngh FROM bg))
          |SELECT doc_id, lang, source FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM hit)
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q82: IVF-PQ — q42's cosine cell CTEs select candidates, q80's
      // fixed-point ADC ranks them; both halves already hash-gated alone
      "q82_ivfpq_topk" ->
        s"""$pqCommon,
          |c AS (SELECT id AS cid, v AS cv FROM e WHERE id < 8),
          |sim AS (SELECT e.id, c.cid,
          |  COALESCE(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), -1.0) AS csim
          | FROM e, c),
          |cells AS (SELECT id, cid FROM (SELECT id, cid,
          |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cid) AS rn FROM sim) WHERE rn = 1),
          |qcells AS (SELECT id AS q_id, cid FROM (SELECT id, cid,
          |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cid) AS rn FROM sim WHERE id < 5) WHERE rn <= 2),
          |cand AS (SELECT qcells.q_id, cells.id AS n_id
          | FROM qcells JOIN cells USING (cid) WHERE cells.id <> qcells.q_id),
          |q AS (SELECT id AS q_id, s, sv AS qv FROM sub WHERE id < 5),
          |terms AS (SELECT cand.q_id, cand.n_id,
          |  CAST(FLOOR(1e9 * (cb.cdot - 2*list_dot_product(q.qv, cb.cv))) AS BIGINT) AS t
          | FROM cand JOIN asg ON asg.id = cand.n_id
          | JOIN cb ON cb.s = asg.s AND cb.code = asg.code
          | JOIN q ON q.q_id = cand.q_id AND q.s = asg.s),
          |adc AS (SELECT q_id, n_id, SUM(t) AS d FROM terms GROUP BY q_id, n_id)
          |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk FROM (
          | SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rnk FROM adc)
          |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin.replace("\n", " "),
      // q84: residual IVF-PQ — same cell CTEs as q82, but codebooks/codes
      // live in residual space (rv = v − cell centroid) and the ADC adds
      // the per-(query, cell) constant ‖q−c‖²; every distance term is a
      // 1e-9-floored BIGINT, so the ranking is integer-exact. A candidate
      // reaches a query only through its OWN cell (cells is an argmax per
      // id), so (q_id, n_id) pairs are unique and MIN(ct) is that cell's ct.
      "q84_ivfpq_residual" ->
        """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings WHERE vec_id < 300),
          |c AS (SELECT id AS cid, v AS cv FROM e WHERE id < 8),
          |sim AS (SELECT e.id, c.cid,
          |  COALESCE(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), -1.0) AS csim
          | FROM e, c),
          |cells AS (SELECT id, cid FROM (SELECT id, cid,
          |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cid) AS rn FROM sim) WHERE rn = 1),
          |r AS (SELECT e.id, cells.cid,
          |  list_transform(range(64), i -> e.v[i+1] - c.cv[i+1]) AS rv
          | FROM e JOIN cells ON e.id = cells.id JOIN c ON c.cid = cells.cid),
          |rsub AS (SELECT id, cid, s, rv[(s*16+1):((s+1)*16)] AS rsv FROM r, range(4) rr(s)),
          |cb AS (SELECT s, rsv AS cv, list_dot_product(rsv, rsv) AS cdot,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY s ORDER BY id) - 1 AS BIGINT) AS code
          | FROM rsub WHERE id < 16),
          |asg AS (SELECT id, s, code FROM (
          | SELECT rsub.id, rsub.s, cb.code,
          |  ROW_NUMBER() OVER (PARTITION BY rsub.id, rsub.s
          |   ORDER BY cb.cdot - 2*list_dot_product(rsub.rsv, cb.cv), cb.code) AS rn
          | FROM rsub JOIN cb ON rsub.s = cb.s) WHERE rn = 1),
          |qcells AS (SELECT id AS q_id, cid FROM (SELECT id, cid,
          |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cid) AS rn FROM sim WHERE id < 5) WHERE rn <= 2),
          |qr AS (SELECT qcells.q_id, qcells.cid,
          |  list_transform(range(64), i -> e.v[i+1] - c.cv[i+1]) AS qrv
          | FROM qcells JOIN e ON e.id = qcells.q_id JOIN c ON c.cid = qcells.cid),
          |qsub AS (SELECT q_id, cid, s, qrv[(s*16+1):((s+1)*16)] AS qsv FROM qr, range(4) rr(s)),
          |cellt AS (SELECT q_id, cid, CAST(FLOOR(1e9 * list_dot_product(qrv, qrv)) AS BIGINT) AS ct FROM qr),
          |cand AS (SELECT qcells.q_id, qcells.cid, cells.id AS n_id
          | FROM qcells JOIN cells USING (cid) WHERE cells.id <> qcells.q_id),
          |terms AS (SELECT cand.q_id, cand.n_id, cand.cid,
          |  CAST(FLOOR(1e9 * (cb.cdot - 2*list_dot_product(qsub.qsv, cb.cv))) AS BIGINT) AS t
          | FROM cand JOIN asg ON asg.id = cand.n_id
          | JOIN cb ON cb.s = asg.s AND cb.code = asg.code
          | JOIN qsub ON qsub.q_id = cand.q_id AND qsub.cid = cand.cid AND qsub.s = asg.s),
          |adc AS (SELECT t.q_id, t.n_id, MIN(cellt.ct) + SUM(t.t) AS d
          | FROM terms t JOIN cellt ON cellt.q_id = t.q_id AND cellt.cid = t.cid
          | GROUP BY t.q_id, t.n_id)
          |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk FROM (
          | SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rnk FROM adc)
          |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin.replace("\n", " "),
      // q85: rank-selection quantiles — the ::DOUBLE casts force DuckDB
      // onto the same double multiply Spark uses (its bare 0.9 literal is
      // DECIMAL; identical floor inputs -> identical ranks)
      "q85_token_quantiles" ->
        s"""WITH t AS (SELECT lang, CAST(len($toks) AS BIGINT) AS v FROM documents),
          |r AS (SELECT lang, v, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v) AS rn,
          |  COUNT(*) OVER (PARTITION BY lang) AS n FROM t)
          |SELECT lang,
          | MAX(CASE WHEN rn = CAST(FLOOR(0.25::DOUBLE*(n-1)) AS BIGINT)+1 THEN v END) AS p25,
          | MAX(CASE WHEN rn = CAST(FLOOR(0.5::DOUBLE*(n-1)) AS BIGINT)+1 THEN v END) AS p50,
          | MAX(CASE WHEN rn = CAST(FLOOR(0.75::DOUBLE*(n-1)) AS BIGINT)+1 THEN v END) AS p75,
          | MAX(CASE WHEN rn = CAST(FLOOR(0.9::DOUBLE*(n-1)) AS BIGINT)+1 THEN v END) AS p90
          |FROM r GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " "),
      // q86: budgets are the Scala floor(weight·2000) values (exact
      // dyadic weights -> 1000/500/500 on any engine); cumulative token
      // sum in identity-hash order, ROWS frame on both sides
      "q86_token_budget_mix" ->
        s"""WITH d AS (SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS mix_tokens,
          |  md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
          |c AS (SELECT doc_id, source, mix_tokens,
          |  SUM(mix_tokens) OVER (PARTITION BY source ORDER BY h, CAST(doc_id AS VARCHAR)
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d),
          |b AS (SELECT * FROM (VALUES ('src0', 1000), ('src1', 500), ('src5', 500)) v(source, budget))
          |SELECT doc_id, source, mix_tokens FROM c JOIN b USING (source)
          |WHERE cum <= budget ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q87: q42's IVF CTEs (approx) + q25's brute-force shape restricted
      // to the same id<300 corpus (exact); hits = LEFT-JOIN match count,
      // recall in integer basis points (floor over an exact double)
      "q87_ann_recall" ->
        """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings WHERE vec_id < 300),
          |bs AS (SELECT q.id AS q_id, c.id AS n_id,
          |  COALESCE(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), -1.0) AS cos
          | FROM e q JOIN e c ON q.id < 5 AND q.id <> c.id),
          |ex AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
          |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM bs) WHERE rnk <= 3),
          |c AS (SELECT id AS cid, v AS cv FROM e WHERE id < 8),
          |sim AS (SELECT e.id, e.v, c.cid,
          |  COALESCE(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), -1.0) AS csim
          | FROM e, c),
          |asg AS (SELECT id, v, cid FROM (SELECT id, v, cid,
          |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cid) AS rn FROM sim) WHERE rn = 1),
          |qp AS (SELECT id AS q_id, v AS qv, cid FROM (SELECT id, v, cid,
          |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cid) AS rn FROM sim WHERE id < 5) WHERE rn <= 2),
          |cand AS (SELECT qp.q_id, qp.qv, asg.id AS n_id, asg.v AS nv
          | FROM qp JOIN asg ON qp.cid = asg.cid WHERE asg.id <> qp.q_id),
          |ap AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
          |  COALESCE(list_dot_product(qv, nv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))), -1.0) DESC, n_id) AS rnk
          | FROM cand) WHERE rnk <= 3)
          |SELECT ex.q_id, COUNT(ap.n_id) AS hits,
          | CAST(FLOOR(COUNT(ap.n_id) * 10000 / 3) AS BIGINT) AS recall_bp
          |FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id
          |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin.replace("\n", " "),
      // q88: adjacent char pairs from the DISTINCT-word frequency table;
      // scalar range() with a column arg + 1-based slicing mirror Spark's
      // sequence + substr exactly (both char-based, multi-byte safe)
      "q88_bpe_pairs" ->
        s"""WITH t AS (SELECT unnest($toks) AS w FROM documents),
          |wf AS (SELECT w, COUNT(*) AS wc FROM t WHERE length(w) >= 2 GROUP BY w),
          |p AS (SELECT unnest(list_transform(range(length(w)-1), i -> w[(i+1):(i+2)])) AS pair, wc FROM wf),
          |c AS (SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM p GROUP BY pair)
          |SELECT pair, cnt FROM c ORDER BY cnt DESC, pair LIMIT 30""".stripMargin.replace("\n", " "),
      // q90: same synthetic 8-token lines (list slicing over range), the
      // first-occurrence election as a ROW_NUMBER over (md5(line)) — the
      // window form is semantically identical to Spark's min(struct)
      // argmin since (doc_id, pos) is unique; string_agg ORDER BY pos
      // rebuilds in original order
      "q90_line_dedup" ->
        s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
          |d2 AS (SELECT doc_id, list_transform(range(((len(toks)-1)//8)+1),
          |  i -> array_to_string(toks[(i*8+1):((i*8)+8)], ' ')) AS lines FROM tk),
          |l AS (SELECT doc_id, u.pos AS pos, u.ln AS ln FROM (
          |  SELECT doc_id, unnest(list_transform(range(len(lines)),
          |    i -> struct_pack(pos := i, ln := lines[i+1]))) AS u FROM d2)),
          |k AS (SELECT doc_id, pos, ln FROM (SELECT doc_id, pos, ln,
          |  ROW_NUMBER() OVER (PARTITION BY md5(ln) ORDER BY doc_id, pos) AS rn FROM l) WHERE rn = 1),
          |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
          |  string_agg(ln, chr(10) ORDER BY pos) AS clean_text FROM k GROUP BY doc_id),
          |tot AS (SELECT doc_id, CAST(len(lines) AS BIGINT) AS n FROM d2)
          |SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text,
          | COALESCE(a.n_kept, 0) AS n_kept, t.n - COALESCE(a.n_kept, 0) AS n_removed
          |FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id ORDER BY t.doc_id""".stripMargin.replace("\n", " "),
      // q94: q73's CTE chain with the keep stage swapped for q89's
      // FIRST_VALUE election over (token count DESC, doc_id) — scores
      // computed over the same injected s3 text the Spark side sees
      "q94_curate_best" ->
        s"""WITH RECURSIVE d AS (SELECT doc_id, lang, source, text ||
          |  CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
          |  CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.1 and +1 555 0100 ' || (doc_id % 100) ELSE '' END AS text
          | FROM documents),
          |pool AS (SELECT * FROM d WHERE doc_id % 37 <> 0),
          |g AS (SELECT source FROM pool GROUP BY source
          | HAVING COUNT(*) >= 20
          |  AND SUM(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) * 10000 >= SUM(length(text)) * 8100),
          |s1 AS (SELECT * FROM pool WHERE source IN (SELECT source FROM g)),
          |s2 AS (SELECT * FROM s1
          | WHERE len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) = 0
          |  AND len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) = 0
          |  AND len(regexp_extract_all(text, '\\+[0-9][0-9 -]{7,}[0-9]')) = 0),
          |ex AS (SELECT MIN(doc_id) AS doc_id FROM s2 GROUP BY md5(text)),
          |s3 AS (SELECT * FROM s2 WHERE doc_id IN (SELECT doc_id FROM ex)),
          |sig AS (SELECT doc_id, md5(${mh("0")} || '|' || ${mh("1")}) AS band FROM s3),
          |ok AS (SELECT band FROM sig GROUP BY band HAVING COUNT(*) <= 1000),
          |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          | FROM sig a JOIN sig b USING (band)
          | WHERE a.doc_id < b.doc_id AND a.band IN (SELECT band FROM ok)),
          |ee AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
          |reach AS (
          | SELECT doc_id AS id, doc_id AS lab FROM s3
          | UNION
          | SELECT ee.dst AS id, reach.lab FROM reach JOIN ee ON reach.id = ee.src),
          |cc AS (SELECT id, MIN(lab) AS canon FROM reach GROUP BY id),
          |q AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS score FROM s3),
          |rep AS (SELECT cc.id AS doc_id,
          |  FIRST_VALUE(cc.id) OVER (PARTITION BY cc.canon ORDER BY q.score DESC, cc.id) AS rep_id
          | FROM cc JOIN q ON q.doc_id = cc.id),
          |s4 AS (SELECT s3.* FROM s3 JOIN rep ON s3.doc_id = rep.doc_id AND rep.doc_id = rep.rep_id),
          |bg AS (SELECT DISTINCT CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 7),
          |   i -> array_to_string(list_slice($toks, i, i + 7), ' ')))), 1, 15)) AS BIGINT) AS ngh
          | FROM d WHERE doc_id % 37 = 0),
          |hit AS (SELECT DISTINCT doc_id FROM (
          |  SELECT doc_id, CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 7),
          |    i -> array_to_string(list_slice($toks, i, i + 7), ' ')))), 1, 15)) AS BIGINT) AS ngh
          |  FROM s4) x WHERE ngh IN (SELECT ngh FROM bg))
          |SELECT doc_id, lang, source FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM hit)
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q93: bigram counts via struct_pack over scalar range (the q90
      // pattern); (scale·C1(w1)) // C2(w1,w2) is pure integer division —
      // every doc bigram exists in the counts, so no OOV branch
      // keys are the 60-bit md5-prefix hashes (round-10 hash-keyed
      // reshape; collisions merge identically on both engines)
      "q93_bigram_rarity" ->
        s"""WITH tok AS (SELECT doc_id,
          |  CAST(('0x' || substr(md5(unnest($toks)), 1, 15)) AS BIGINT) AS w1h FROM documents),
          |u AS (SELECT w1h, COUNT(*) AS cnt1 FROM tok GROUP BY w1h),
          |tk AS (SELECT doc_id, $toks AS toks FROM documents),
          |p AS (SELECT doc_id,
          |  CAST(('0x' || substr(md5(b.w1), 1, 15)) AS BIGINT) AS w1h,
          |  CAST(('0x' || substr(md5(b.w1 || ' ' || b.w2), 1, 15)) AS BIGINT) AS fh FROM (
          |  SELECT doc_id, unnest(list_transform(range(len(toks)-1),
          |    i -> struct_pack(w1 := toks[i+1], w2 := toks[i+2]))) AS b FROM tk)),
          |bi AS (SELECT fh, COUNT(*) AS cnt2 FROM p GROUP BY fh),
          |r AS (SELECT p.doc_id, (1000000 * u.cnt1) // bi.cnt2 AS rar
          | FROM p JOIN bi USING (fh) JOIN u USING (w1h)),
          |a AS (SELECT doc_id, CAST(SUM(rar) AS BIGINT) AS bigram_rarity_sum,
          |  COUNT(*) AS n_bigrams FROM r GROUP BY doc_id)
          |SELECT d.doc_id, COALESCE(a.bigram_rarity_sum, 0) AS bigram_rarity_sum,
          | COALESCE(a.n_bigrams, 0) AS n_bigrams
          |FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
      // q91: q85's p25 CTE joined back and applied as the filter
      "q91_adaptive_cut" ->
        s"""WITH t AS (SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
          |r AS (SELECT lang, n_tokens AS v, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
          |  COUNT(*) OVER (PARTITION BY lang) AS n FROM t),
          |c AS (SELECT lang,
          |  MAX(CASE WHEN rn = CAST(FLOOR(0.25::DOUBLE*(n-1)) AS BIGINT)+1 THEN v END) AS p25
          | FROM r GROUP BY lang)
          |SELECT t.doc_id, t.lang, t.n_tokens, c.p25 FROM t JOIN c USING (lang)
          |WHERE t.n_tokens >= c.p25 ORDER BY t.doc_id""".stripMargin.replace("\n", " "),
      "q92_grouping_sets" ->
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin.replace("\n", " "),
      // q89: q58's recursive-closure cluster CTEs + a per-cluster
      // FIRST_VALUE argmax on (score DESC, doc_id) — same total order as
      // the Spark window, so the elected representative is identical
      "q89_cluster_reps" ->
        s"""WITH RECURSIVE sig AS (SELECT doc_id, md5(${mh("0")} || '|' || ${mh("1")}) AS band FROM documents),
          |ok AS (SELECT band FROM sig GROUP BY band HAVING COUNT(*) <= 1000),
          |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          | FROM sig a JOIN sig b USING (band)
          | WHERE a.doc_id < b.doc_id AND a.band IN (SELECT band FROM ok)),
          |ee AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
          |reach AS (
          | SELECT doc_id AS id, doc_id AS lab FROM documents
          | UNION
          | SELECT ee.dst AS id, reach.lab FROM reach JOIN ee ON reach.id = ee.src),
          |cl AS (SELECT id AS doc_id, MIN(lab) AS canonical_id FROM reach GROUP BY id),
          |q AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS score FROM documents),
          |j AS (SELECT cl.doc_id, cl.canonical_id, q.score FROM cl JOIN q USING (doc_id)),
          |r AS (SELECT doc_id, canonical_id,
          |  FIRST_VALUE(doc_id) OVER (PARTITION BY canonical_id ORDER BY score DESC, doc_id) AS rep_id FROM j)
          |SELECT doc_id, canonical_id, rep_id, CAST(doc_id = rep_id AS BIGINT) AS kept
          |FROM r ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q81: the composed gate — each rule's CTE is the proven per-signal
      // oracle (q27/q61/q62/q76 expressions) over the SAME injected text;
      // flags are integer comparisons, so verdict parity is exact
      "q81_quality_gate" ->
        s"""WITH d AS (SELECT doc_id, text ||
          |  CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
          |  CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.1 and +1 555 0100 ' || (doc_id % 100) ELSE '' END AS text
          | FROM documents),
          |tok AS (SELECT doc_id, unnest($toks) AS w FROM d),
          |dc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w),
          |rep AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nd,
          |  CAST(SUM(c) AS BIGINT) AS nt, CAST(MAX(c) AS BIGINT) AS mx
          | FROM dc GROUP BY doc_id),
          |cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
          |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM cnt),
          |v AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 100),
          |rs AS (SELECT t.doc_id, CAST(SUM(COALESCE((1000000 * n.n_total) // v.c,
          |   1000000 * n.n_total)) AS BIGINT) AS rsum, COUNT(*) AS rtok
          | FROM tok t LEFT JOIN v USING (w) CROSS JOIN n GROUP BY t.doc_id),
          |base AS (SELECT doc_id,
          |  CAST(len($toks) AS BIGINT) AS ntok,
          |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS na,
          |  CAST(length(text) AS BIGINT) AS nc,
          |  CAST($piiCount AS BIGINT) AS npii
          | FROM d),
          |f AS (SELECT b.doc_id,
          |  b.ntok >= 20 AND b.ntok <= 100000 AS len_ok,
          |  b.na * 10000 >= b.nc * 8150 AS alpha_ok,
          |  b.npii <= 0 AS pii_ok,
          |  COALESCE(r.nd * 10000 >= r.nt * 3500 AND r.mx * 10000 <= r.nt * 1200, TRUE) AS rep_ok,
          |  COALESCE(rs.rsum <= rs.rtok * 32000000, TRUE) AS rarity_ok
          | FROM base b LEFT JOIN rep r USING (doc_id) LEFT JOIN rs USING (doc_id))
          |SELECT doc_id, CAST(len_ok AS BIGINT) AS len_ok,
          | CAST(alpha_ok AS BIGINT) AS alpha_ok, CAST(pii_ok AS BIGINT) AS pii_ok,
          | CAST(rep_ok AS BIGINT) AS rep_ok, CAST(rarity_ok AS BIGINT) AS rarity_ok,
          | CAST(len_ok AND alpha_ok AND pii_ok AND rep_ok AND rarity_ok AS BIGINT) AS pass
          |FROM f ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q69_source_gate" ->
        """WITH g AS (SELECT source FROM documents GROUP BY source
          | HAVING COUNT(*) >= 20
          |  AND SUM(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) * 10000 >= SUM(length(text)) * 8210)
          |SELECT doc_id, source FROM documents WHERE source IN (SELECT source FROM g)
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q70_dedup_incremental" ->
        s"""WITH sig AS (SELECT doc_id,
          |  '0#' || md5(${mh("0")} || '|' || ${mh("1")} || '|' || ${mh("2")} || '|' || ${mh("3")}) AS k
          | FROM documents),
          |ck AS (SELECT DISTINCT k FROM sig WHERE doc_id % 11 <> 0)
          |SELECT doc_id FROM sig
          |WHERE doc_id % 11 = 0 AND k NOT IN (SELECT k FROM ck)
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q71_quantize" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |q AS (SELECT vec_id, v,
          |  list_transform(v, x -> GREATEST(-128, LEAST(127, CAST(floor(x*256 + 0.5) AS BIGINT)))) AS qa
          | FROM e)
          |SELECT vec_id, qa[1] AS q0, qa[2] AS q1, qa[3] AS q2,
          | CAST(len(list_filter(v, x -> floor(x*256 + 0.5) < -128 OR floor(x*256 + 0.5) > 127)) AS BIGINT) AS n_clipped,
          | CAST(list_sum(qa) AS BIGINT) AS sum_q,
          | list_max(list_transform(v, x -> abs(x - GREATEST(-128, LEAST(127, CAST(floor(x*256 + 0.5) AS BIGINT))) / 256.0))) AS max_abs_err
          |FROM q ORDER BY vec_id""".stripMargin.replace("\n", " "),
      // q73: each CTE is a proven fragment — q69's gate, q61's patterns,
      // q20's exact groups, q58's band/guard/recursive closure, q59's
      // n-gram decontamination — chained over the same injected pool
      "q73_curate" ->
        s"""WITH RECURSIVE d AS (SELECT doc_id, lang, source, text ||
          |  CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
          |  CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.1 and +1 555 0100 ' || (doc_id % 100) ELSE '' END AS text
          | FROM documents),
          |pool AS (SELECT * FROM d WHERE doc_id % 37 <> 0),
          |g AS (SELECT source FROM pool GROUP BY source
          | HAVING COUNT(*) >= 20
          |  AND SUM(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) * 10000 >= SUM(length(text)) * 8100),
          |s1 AS (SELECT * FROM pool WHERE source IN (SELECT source FROM g)),
          |s2 AS (SELECT * FROM s1
          | WHERE len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) = 0
          |  AND len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) = 0
          |  AND len(regexp_extract_all(text, '\\+[0-9][0-9 -]{7,}[0-9]')) = 0),
          |ex AS (SELECT MIN(doc_id) AS doc_id FROM s2 GROUP BY md5(text)),
          |s3 AS (SELECT * FROM s2 WHERE doc_id IN (SELECT doc_id FROM ex)),
          |sig AS (SELECT doc_id, md5(${mh("0")} || '|' || ${mh("1")}) AS band FROM s3),
          |ok AS (SELECT band FROM sig GROUP BY band HAVING COUNT(*) <= 1000),
          |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          | FROM sig a JOIN sig b USING (band)
          | WHERE a.doc_id < b.doc_id AND a.band IN (SELECT band FROM ok)),
          |ee AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
          |reach AS (
          | SELECT doc_id AS id, doc_id AS lab FROM s3
          | UNION
          | SELECT ee.dst AS id, reach.lab FROM reach JOIN ee ON reach.id = ee.src),
          |cc AS (SELECT id, MIN(lab) AS canon FROM reach GROUP BY id),
          |s4 AS (SELECT s3.* FROM s3 JOIN cc ON s3.doc_id = cc.id AND s3.doc_id = cc.canon),
          |bg AS (SELECT DISTINCT CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 7),
          |   i -> array_to_string(list_slice($toks, i, i + 7), ' ')))), 1, 15)) AS BIGINT) AS ngh
          | FROM d WHERE doc_id % 37 = 0),
          |hit AS (SELECT DISTINCT doc_id FROM (
          |  SELECT doc_id, CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 7),
          |    i -> array_to_string(list_slice($toks, i, i + 7), ' ')))), 1, 15)) AS BIGINT) AS ngh
          |  FROM s4) x WHERE ngh IN (SELECT ngh FROM bg))
          |SELECT doc_id, lang, source FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM hit)
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q72_boilerplate_ngrams" ->
        s"""WITH ng AS (SELECT
          |  CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 2),
          |    i -> array_to_string(list_slice($toks, i, i + 2), ' ')))), 1, 15)) AS BIGINT) AS ngh
          | FROM documents),
          |c AS (SELECT ngh, COUNT(*) AS n_occ FROM ng GROUP BY ngh HAVING COUNT(*) >= 5)
          |SELECT ngh, n_occ FROM c ORDER BY n_occ DESC, ngh LIMIT 20""".stripMargin.replace("\n", " "),
      // q95: the truncated ranking re-runs q25's brute-force CTE over
      // v[1:16] prefix slices; recall join is q87's shape verbatim
      "q95_mrl_recall" ->
        """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings WHERE vec_id < 300),
          |ex AS (SELECT q_id, n_id FROM (SELECT q.id AS q_id, c.id AS n_id,
          |  ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
          |   COALESCE(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), -1.0) DESC, c.id) AS rnk
          | FROM e q JOIN e c ON q.id < 5 AND q.id <> c.id) WHERE rnk <= 3),
          |t AS (SELECT id, v[1:16] AS tv FROM e),
          |ap AS (SELECT q_id, n_id FROM (SELECT q.id AS q_id, c.id AS n_id,
          |  ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
          |   COALESCE(list_dot_product(q.tv, c.tv) / (sqrt(list_dot_product(q.tv, q.tv)) * sqrt(list_dot_product(c.tv, c.tv))), -1.0) DESC, c.id) AS rnk
          | FROM t q JOIN t c ON q.id < 5 AND q.id <> c.id) WHERE rnk <= 3)
          |SELECT ex.q_id, COUNT(ap.n_id) AS hits,
          | CAST(FLOOR(COUNT(ap.n_id) * 10000 / 3) AS BIGINT) AS recall_bp
          |FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id
          |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin.replace("\n", " "),
      // q96: q76's token/vocab CTEs with a LIMIT 200 cut; coverage is a
      // left join against the vocab and the OOV rate is BIGINT integer
      // division — engine-exact end to end
      "q96_vocab_coverage" ->
        s"""WITH tok AS (SELECT source, unnest($toks) AS w FROM documents),
          |v AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM tok GROUP BY w
          |  ORDER BY c DESC, w LIMIT 200)),
          |a AS (SELECT t.source, COUNT(*) AS n_tokens, COUNT(v.w) AS cov
          | FROM tok t LEFT JOIN v ON t.w = v.w GROUP BY t.source)
          |SELECT source, n_tokens, n_tokens - cov AS n_oov,
          | (n_tokens - cov) * 10000 // n_tokens AS oov_bp
          |FROM a ORDER BY source""".stripMargin.replace("\n", " "),
      // q97: same injection arithmetic as the Spark side; every canonical
      // step is an anchored/end-consuming regexp, so DuckDB's
      // replace-first and Spark's replace-all coincide (plain string —
      // the regex backslashes must not pass through s-interpolation)
      "q97_url_inventory" ->
        """WITH d AS (SELECT doc_id, text ||
          |  CASE WHEN doc_id % 3 = 0 THEN ' see HTTPS://WWW.Example' || CAST(doc_id % 7 AS VARCHAR)
          |   || '.COM/Wiki/Page' || CAST(doc_id % 11 AS VARCHAR) || '?utm_source=x#sec' ELSE '' END ||
          |  CASE WHEN doc_id % 4 = 0 THEN ' at http://example' || CAST(doc_id % 7 AS VARCHAR)
          |   || '.com/Wiki/Page' || CAST(doc_id % 11 AS VARCHAR) || '/' ELSE '' END AS text
          | FROM documents),
          |u AS (SELECT doc_id, unnest(regexp_extract_all(text,
          |  '[Hh][Tt][Tt][Pp][Ss]?://[A-Za-z0-9.-]+(:[0-9]+)?(/[^\s]*)?', 0)) AS url FROM d),
          |r AS (SELECT doc_id, url,
          |  regexp_replace(regexp_replace(url, '[?#].*', ''), '^[Hh][Tt][Tt][Pp][Ss]?://', '') AS rest FROM u),
          |c AS (SELECT doc_id, url,
          |  regexp_replace(lower(regexp_extract(rest, '^[^/]*')), '^www\.', '')
          |   || regexp_replace(regexp_replace(rest, '^[^/]*', ''), '/$', '') AS canonical FROM r),
          |g AS (SELECT canonical, COUNT(*) AS n_refs, COUNT(DISTINCT url) AS n_forms,
          |  COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS first_doc
          | FROM c GROUP BY canonical)
          |SELECT canonical,
          | regexp_extract(regexp_extract(canonical, '^[^/]*'), '[A-Za-z0-9-]+\.[A-Za-z0-9-]+$') AS domain,
          | n_refs, n_forms, n_docs, first_doc
          |FROM g ORDER BY canonical""".stripMargin.replace("\n", " "),
      // q98: q42's assignment CTE verbatim; the share is BIGINT integer
      // division against the one-row corpus count
      "q98_ivf_balance" ->
        """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings WHERE vec_id < 300),
          |c AS (SELECT id AS cid, v AS cv FROM e WHERE id < 8),
          |sim AS (SELECT e.id, c.cid,
          |  COALESCE(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), -1.0) AS csim
          | FROM e, c),
          |asg AS (SELECT id, cid FROM (SELECT id, cid,
          |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cid) AS rn FROM sim) WHERE rn = 1),
          |n AS (SELECT COUNT(*) AS total FROM e)
          |SELECT cid, COUNT(*) AS n_vecs, COUNT(*) * 10000 // n.total AS share_bp
          |FROM asg CROSS JOIN n GROUP BY cid, n.total ORDER BY cid""".stripMargin.replace("\n", " "),
      // q99: injection + the q97 canonicalization chain verbatim; the
      // election is MIN per canonical key and the survivor filter a
      // doc_id IN semi join (doc_id unique)
      "q99_url_dedup" ->
        """WITH d AS (SELECT doc_id, lang, source,
          |  CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.site' || CAST(doc_id % 5 AS VARCHAR)
          |    || '.com/p' || CAST(doc_id % 13 AS VARCHAR) || '?sid=' || CAST(doc_id AS VARCHAR)
          |   ELSE 'http://site' || CAST(doc_id % 5 AS VARCHAR) || '.com/p' || CAST(doc_id % 13 AS VARCHAR) END AS url
          | FROM documents),
          |r AS (SELECT doc_id, lang, source,
          |  regexp_replace(regexp_replace(url, '[?#].*', ''), '^[Hh][Tt][Tt][Pp][Ss]?://', '') AS rest FROM d),
          |c AS (SELECT doc_id, lang, source,
          |  regexp_replace(lower(regexp_extract(rest, '^[^/]*')), '^www\.', '')
          |   || regexp_replace(regexp_replace(rest, '^[^/]*', ''), '/$', '') AS canonical FROM r),
          |w AS (SELECT MIN(doc_id) AS doc_id FROM c GROUP BY canonical)
          |SELECT doc_id, lang, source FROM c WHERE doc_id IN (SELECT doc_id FROM w)
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q100: the oracle builds the registered domain DIRECTLY from the
      // injection arithmetic (doc_id % 7), independently verifying the
      // Spark side's regexp rollup; sums cast to BIGINT (DuckDB SUM is
      // HUGEINT), alpha_bp is integer division
      "q100_domain_stats" ->
        """WITH d AS (SELECT text, 'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain
          | FROM documents WHERE doc_id % 7 NOT IN (0, 3)),
          |g AS (SELECT domain, COUNT(*) AS n_docs,
          |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
          |  CAST(SUM(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) AS BIGINT) AS sum_alpha
          | FROM d GROUP BY domain)
          |SELECT domain, n_docs, sum_chars,
          | CAST(CASE WHEN sum_chars > 0 THEN sum_alpha * 10000 // sum_chars ELSE 0 END AS BIGINT) AS alpha_bp
          |FROM g ORDER BY domain""".stripMargin.replace("\n", " "),
      // q101: truth = all-pairs integer-threshold Jaccard; candidates =
      // q22's minhash-band CTE verbatim (same cap); counts via scalar
      // subqueries, bp ratios integer division with the vacuous-10000
      // guards mirrored
      "q101_lsh_recall" ->
        s"""WITH d AS (SELECT doc_id, list_distinct($toks) AS s
          |  FROM documents WHERE doc_id < 300),
          |ex AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          | FROM d a JOIN d b ON a.doc_id < b.doc_id
          |  AND len(list_intersect(a.s, b.s)) * 10000
          |   >= 8000 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))),
          |sig AS (SELECT doc_id, md5(${mh("0")} || '|' || ${mh("1")}) AS band
          |  FROM documents WHERE doc_id < 300),
          |ok AS (SELECT band FROM sig GROUP BY band HAVING COUNT(*) <= 1000),
          |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          | FROM sig a JOIN sig b USING (band)
          | WHERE a.doc_id < b.doc_id AND a.band IN (SELECT band FROM ok)),
          |j AS (SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
          |  (SELECT COUNT(*) FROM cand) AS n_cand,
          |  (SELECT COUNT(*) FROM ex JOIN cand USING (id_a, id_b)) AS n_hit)
          |SELECT n_exact, n_cand, n_hit,
          | CAST(CASE WHEN n_exact > 0 THEN n_hit * 10000 // n_exact ELSE 10000 END AS BIGINT) AS recall_bp,
          | CAST(CASE WHEN n_cand > 0 THEN n_hit * 10000 // n_cand ELSE 10000 END AS BIGINT) AS precision_bp
          |FROM j""".stripMargin.replace("\n", " "),
      // q102: q63's window-cumsum CTE with the sequence-index projections;
      // all integral division, zero-token docs report their boundary
      // position with n_seqs = 0
      "q102_seq_layout" ->
        s"""WITH d AS (SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_tok FROM documents),
          |r AS (SELECT doc_id, lang, n_tok,
          |  CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
          |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS running
          | FROM d)
          |SELECT doc_id, lang, n_tok, running,
          | CAST(running // 2048 AS BIGINT) AS seq_first,
          | CAST(CASE WHEN n_tok > 0 THEN (running + n_tok - 1) // 2048 ELSE running // 2048 END AS BIGINT) AS seq_last,
          | CAST(running % 2048 AS BIGINT) AS off_start,
          | CAST(CASE WHEN n_tok > 0 THEN (running + n_tok - 1) // 2048 - running // 2048 + 1 ELSE 0 END AS BIGINT) AS n_seqs
          |FROM r ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q103: the oracle constructs the PSL-aware domain DIRECTLY from the
      // injection parity (three labels under .co.uk, two under .com),
      // independently verifying the suffix-cascade regexps
      "q103_psl_domains" ->
        """WITH d AS (SELECT text,
          |  CASE WHEN doc_id % 2 = 0 THEN 'shop' || CAST(doc_id % 5 AS VARCHAR) || '.co.uk'
          |   ELSE 'shop' || CAST(doc_id % 5 AS VARCHAR) || '.com' END AS domain
          | FROM documents),
          |g AS (SELECT domain, COUNT(*) AS n_docs,
          |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
          |  CAST(SUM(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) AS BIGINT) AS sum_alpha
          | FROM d GROUP BY domain)
          |SELECT domain, n_docs, sum_chars,
          | CAST(CASE WHEN sum_chars > 0 THEN sum_alpha * 10000 // sum_chars ELSE 0 END AS BIGINT) AS alpha_bp
          |FROM g ORDER BY domain""".stripMargin.replace("\n", " "),
      // q104: q86's hash-order window take with budgets derived in-query —
      // exact integer sqrt (floor(sqrt) + the same ±1 CASE correction as
      // the engine), integer division throughout
      "q104_temperature_mix" ->
        s"""WITH d AS (SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS mix_tokens,
          |  md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
          |t AS (SELECT source, CAST(SUM(mix_tokens) AS BIGINT) AS n FROM d GROUP BY source),
          |i AS (SELECT source,
          |  CAST(CASE WHEN (s0+1)*(s0+1) <= n THEN s0+1 WHEN s0*s0 > n THEN s0-1 ELSE s0 END AS BIGINT) AS w
          | FROM (SELECT source, n, CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS s0 FROM t)),
          |s AS (SELECT CAST(SUM(w) AS BIGINT) AS wsum FROM i),
          |b AS (SELECT source, CAST(100000 * w // wsum AS BIGINT) AS budget FROM i CROSS JOIN s),
          |c AS (SELECT doc_id, source, mix_tokens,
          |  SUM(mix_tokens) OVER (PARTITION BY source ORDER BY h, CAST(doc_id AS VARCHAR)
          |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
          |SELECT doc_id, source, mix_tokens FROM c JOIN b USING (source)
          |WHERE cum <= budget ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q105: same injected codepoints built via chr() (DuckDB literals
      // don't process escapes); nfc_normalize + an RE2 control class —
      // md5 proves the kernel's NFC output is byte-identical to utf8proc's
      "q105_clean_text" ->
        """WITH d AS (SELECT doc_id,
          |  text || chr(1) || ' cafe' || chr(769) || ' ' || chr(8491) || chr(11) AS raw
          | FROM documents WHERE doc_id % 5 = 0),
          |c AS (SELECT doc_id, raw,
          |  regexp_replace(nfc_normalize(raw),
          |   '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}-\x{9F}]', '', 'g') AS cleaned FROM d)
          |SELECT doc_id, CAST(strlen(raw) AS BIGINT) AS n_raw,
          | CAST(strlen(cleaned) AS BIGINT) AS n_clean, md5(cleaned) AS h
          |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q106: the same fixed-point Okapi arithmetic term by term — every
      // div is BIGINT floor division in both engines; SUM casts back from
      // DuckDB's HUGEINT promotion
      "q106_bm25" ->
        s"""WITH $bm25Ctes,
          |r AS (SELECT query_id, doc_id, score,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rnk FROM sc)
          |SELECT query_id, doc_id, score, rnk FROM r WHERE rnk <= 5
          |ORDER BY query_id, rnk""".stripMargin.replace("\n", " "),
      // q107: hashed-bigram buckets, target/raw counts, the integer
      // Mitchell-log2 likelihood-ratio weight per bucket, per-doc sum.
      // fl2 is the SQL twin of Importance.flog2 (bin-length arithmetic)
      "q107_dsir" ->
        s"""WITH tk AS (SELECT doc_id, lang, $toks AS toks FROM documents),
          |p AS (SELECT doc_id, lang, unnest(list_transform(range(len(toks)-1),
          |  i -> toks[i+1] || ' ' || toks[i+2])) AS f FROM tk),
          |b AS (SELECT doc_id, CAST(('0x' || substr(md5(f),1,8)) AS BIGINT) % 4096 AS bkt, lang FROM p),
          |c AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS rc,
          |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tc FROM b GROUP BY bkt),
          |tt AS (SELECT CAST(SUM(rc) AS BIGINT) AS totr, CAST(SUM(tc) AS BIGINT) AS tott FROM c),
          |w AS (SELECT c.bkt, ${fl2("(c.tc+1)")} - ${fl2("(c.rc+1)")}
          |  + ${fl2("(tt.totr+4096)")} - ${fl2("(tt.tott+4096)")} AS w FROM c, tt),
          |sc AS (SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
          |  CAST(SUM(w.w) AS BIGINT) AS dsir_score FROM b JOIN w USING (bkt) GROUP BY b.doc_id)
          |SELECT d.doc_id, COALESCE(sc.n_feats, 0) AS n_feats,
          | COALESCE(sc.dsir_score, 0) AS dsir_score
          |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
      // q108: q22's band-candidate CTE + the levenshtein confirm over the
      // same 80-char prefix (computed once in a subquery)
      "q108_edit_pairs" ->
        s"""WITH sig AS (SELECT doc_id, substr(text,1,64) AS pfx,
          |  md5(${mh("0")} || '|' || ${mh("1")}) AS band FROM documents),
          |ok AS (SELECT band FROM sig GROUP BY band HAVING COUNT(*) <= 1000),
          |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.pfx AS pa, b.pfx AS pb
          | FROM sig a JOIN sig b USING (band) WHERE a.doc_id < b.doc_id
          |  AND a.band IN (SELECT band FROM ok)),
          |ed AS (SELECT id_a, id_b, CAST(levenshtein(pa, pb) AS BIGINT) AS edit_dist FROM cand)
          |SELECT id_a, id_b, edit_dist FROM ed WHERE edit_dist <= 16
          |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
      // q109: q59's n-gram-hash CTE, per-doc DISTINCT n-grams left-joined
      // against the benchmark set, fraction in basis points
      "q109_contam_frac" ->
        s"""WITH ng AS (SELECT doc_id,
          |  CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 7),
          |    i -> array_to_string(list_slice($toks, i, i + 7), ' ')))), 1, 15)) AS BIGINT) AS ngh
          | FROM documents),
          |bench AS (SELECT DISTINCT ngh FROM ng WHERE doc_id % 37 = 0),
          |corpus AS (SELECT DISTINCT doc_id, ngh FROM ng WHERE doc_id % 37 <> 0),
          |agg AS (SELECT corpus.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
          |  CAST(SUM(CASE WHEN bench.ngh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
          | FROM corpus LEFT JOIN bench ON corpus.ngh = bench.ngh GROUP BY corpus.doc_id)
          |SELECT d.doc_id, COALESCE(agg.n_ngrams, 0) AS n_ngrams,
          | COALESCE(agg.n_hits, 0) AS n_hits,
          | CASE WHEN COALESCE(agg.n_ngrams, 0) > 0
          |  THEN (10000 * agg.n_hits) // agg.n_ngrams ELSE 0 END AS contam_bp
          |FROM (SELECT doc_id FROM documents WHERE doc_id % 37 <> 0) d
          |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
      // q110: existing corpus collapsed to (band -> min rep), the new
      // batch left-joins its bands and keeps the lowest matching rep
      "q110_cluster_assign" ->
        s"""WITH sig AS (SELECT doc_id, md5(${mh("0")} || '|' || ${mh("1")}) AS band FROM documents),
          |reps AS (SELECT band, MIN(doc_id) AS rep FROM sig WHERE doc_id % 37 <> 0 GROUP BY band),
          |nw AS (SELECT doc_id, band FROM sig WHERE doc_id % 37 = 0)
          |SELECT nw.doc_id, MIN(reps.rep) AS assigned_cluster
          |FROM nw LEFT JOIN reps USING (band)
          |GROUP BY nw.doc_id ORDER BY nw.doc_id""".stripMargin.replace("\n", " "),
      // q111: q93's bigram CTE shapes + add-one smoothing against the
      // vocabulary-size scalar, summed per doc in Mitchell-log2 fixed
      // point. Keys are the engine's 60-bit md5-prefix hashes (first 15
      // hex chars), so a hash collision merges counts IDENTICALLY on
      // both engines (round-10 hash-keyed join reshape)
      "q111_lm_logprob" ->
        s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
          |tok AS (SELECT doc_id,
          |  CAST(('0x' || substr(md5(unnest(toks)), 1, 15)) AS BIGINT) AS w1h FROM tk),
          |u AS (SELECT w1h, CAST(COUNT(*) AS BIGINT) AS cnt1 FROM tok GROUP BY w1h),
          |vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM u),
          |p AS (SELECT doc_id,
          |  CAST(('0x' || substr(md5(bg.w1), 1, 15)) AS BIGINT) AS w1h,
          |  CAST(('0x' || substr(md5(bg.f), 1, 15)) AS BIGINT) AS fh FROM (
          |  SELECT doc_id, unnest(list_transform(range(len(toks)-1),
          |    i -> struct_pack(w1 := toks[i+1], f := toks[i+1] || ' ' || toks[i+2]))) AS bg FROM tk)),
          |bi AS (SELECT fh, CAST(COUNT(*) AS BIGINT) AS cnt2 FROM p GROUP BY fh),
          |r AS (SELECT p.doc_id, ${fl2("(bi.cnt2+1)")} - ${fl2("(u.cnt1+vv.v)")} AS lp
          | FROM p JOIN bi USING (fh) JOIN u USING (w1h), vv),
          |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          |  CAST(SUM(lp) AS BIGINT) AS lm_logprob FROM r GROUP BY doc_id)
          |SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
          | COALESCE(a.lm_logprob, 0) AS lm_logprob
          |FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
      // q112: q61's injection CTE + the identical three-step replace
      // chain (emails, then IPs, then phones; 'g' = replace-all)
      "q112_pii_redact" ->
        """WITH d AS (SELECT doc_id, text ||
          |  CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
          |  CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.1 and +1 555 0100 ' || (doc_id % 100) ELSE '' END AS text
          | FROM documents)
          |SELECT doc_id,
          | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          |  + len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
          |  + len(regexp_extract_all(text, '\+[0-9][0-9 -]{7,}[0-9]')) AS BIGINT) AS n_redactions,
          | regexp_replace(regexp_replace(regexp_replace(text,
          |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
          |   '\+[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g') AS redacted
          |FROM d ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q113: the same markup injection, then the RE2 strip chain —
      // script/style/comment blocks, tags, six entities (amp last),
      // whitespace collapse
      "q113_html_strip" ->
        """WITH d AS (SELECT doc_id,
          |  '<html><head><script type="text/javascript">var x = 1 < 2;</script><style>p { color: red; }</style></head><body><!-- crawl artifact --><p class="main">'
          |  || text ||
          |  ' &amp; more &lt;tags&gt; &quot;here&quot; &#39;now&#39;&nbsp;end</p></body></html>' AS html
          | FROM documents),
          |s AS (SELECT doc_id, trim(regexp_replace(
          |  replace(replace(replace(replace(replace(replace(
          |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
          |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
          |    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
          |    '(?s)<!--.*?-->', ' ', 'g'),
          |    '(?s)<[^>]+>', ' ', 'g'),
          |   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
          |  '\s+', ' ', 'g')) AS clean FROM d)
          |SELECT doc_id, CAST(length(clean) AS BIGINT) AS n_clean, clean
          |FROM s ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q114: content-hash full-outer join over the two synthetic
      // snapshot views
      "q114_snapshot_diff" ->
        """WITH o AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 450),
          |n AS (SELECT doc_id,
          |  md5(CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END) AS h
          | FROM documents WHERE doc_id >= 50)
          |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
          | CASE WHEN o.h IS NULL THEN 'added' WHEN n.h IS NULL THEN 'removed'
          |      WHEN o.h = n.h THEN 'same' ELSE 'changed' END AS status
          |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q115: generate_series over the chunk count, inclusive list_slice
      // bounds (Spark's slice(start, len) clamps identically)
      "q115_chunks" ->
        s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
          |c AS (SELECT doc_id, t, len(t) AS n,
          |  CASE WHEN len(t) <= 32 THEN 1 ELSE (len(t) - 32 + 23) // 24 + 1 END AS nch FROM tk),
          |x AS (SELECT doc_id, unnest(generate_series(0, nch - 1)) AS cid, t, n FROM c)
          |SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
          | CAST(LEAST(32, n - cid*24) AS BIGINT) AS n_toks,
          | array_to_string(list_slice(t, cid*24 + 1, cid*24 + 32), ' ') AS chunk
          |FROM x ORDER BY doc_id, chunk_id""".stripMargin.replace("\n", " "),
      // q116: the same injection, then first-occurrence-by-position
      // list_filter (DuckDB lambda index is 1-based; Spark's is 0-based,
      // compensated with i+1 there)
      "q116_line_dedup_doc" ->
        """WITH d AS (SELECT doc_id,
          |  'nav menu' || chr(10) || replace(text, ' the ', chr(10) || 'the ')
          |   || chr(10) || 'nav menu' || chr(10) || 'nav menu' AS text FROM documents),
          |l AS (SELECT doc_id, string_split(text, chr(10)) AS la FROM d),
          |k AS (SELECT doc_id, la, list_filter(la, (x, i) -> list_position(la, x) = i) AS kept FROM l)
          |SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
          | CAST(len(la) AS BIGINT) AS n_lines,
          | CAST(len(la) - len(kept) AS BIGINT) AS n_removed
          |FROM k ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q117/q118 share the three unrolled BPE rounds — each stage is the
      // pair count over the previous vocabulary state, the (cnt DESC,
      // pair ASC) argmax, and the double-space replace that IS the
      // greedy-left merge
      "q117_bpe_train" ->
        s"""WITH $bpeCtes
          |SELECT * FROM (
          | SELECT CAST(1 AS BIGINT) AS merge_rank, pr AS pair, replace(pr, '  ', '') AS merged, cnt FROM m1
          | UNION ALL SELECT CAST(2 AS BIGINT), pr, replace(pr, '  ', ''), cnt FROM m2
          | UNION ALL SELECT CAST(3 AS BIGINT), pr, replace(pr, '  ', ''), cnt FROM m3)
          |ORDER BY merge_rank""".stripMargin.replace("\n", " "),
      // q118: the learned merges applied back to every document — the
      // same char-join + replace chain per token, subwords counted per doc
      "q118_bpe_apply" ->
        s"""WITH $bpeCtes,
          |x AS (SELECT doc_id, unnest($toks) AS w FROM documents),
          |s0 AS (SELECT doc_id, array_to_string(list_transform(range(length(w)),
          |  i -> substr(w, CAST(i + 1 AS INT), 1)), '  ') AS sym FROM x),
          |sf AS (SELECT doc_id, replace(replace(replace(sym,
          |  m1.pr, replace(m1.pr, '  ', '')),
          |  m2.pr, replace(m2.pr, '  ', '')),
          |  m3.pr, replace(m3.pr, '  ', '')) AS sym FROM s0, m1, m2, m3),
          |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
          |  CAST(SUM(len(string_split(sym, '  '))) AS BIGINT) AS n_subwords FROM sf GROUP BY doc_id)
          |SELECT d.doc_id, COALESCE(a.n_words, 0) AS n_words,
          | COALESCE(a.n_subwords, 0) AS n_subwords
          |FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
      // q119: q23's simhash CTE, the pigeonhole block join (4 x 8-bit
      // blocks = any pair within Hamming distance 3 shares a block), the
      // same 1000-cap HAVING as the Spark guard, exact popcount confirm
      "q119_simhash_pairs" ->
        s"""WITH tok AS (SELECT doc_id, CAST(('0x' || substr(md5(w),1,8)) AS BIGINT) AS h
          | FROM (SELECT doc_id, unnest($toks) AS w FROM documents)),
          |votes AS (SELECT doc_id, j, SUM(CASE WHEN (h >> j) % 2 = 1 THEN 1 ELSE -1 END) AS v
          | FROM tok, (SELECT unnest(generate_series(0,31)) AS j) g GROUP BY doc_id, j),
          |sim AS (SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS s
          | FROM votes GROUP BY doc_id),
          |blk AS (SELECT doc_id, s, b, (s >> (b*8)) & 255 AS bv FROM sim, range(4) r(b)),
          |ok AS (SELECT b, bv FROM blk GROUP BY b, bv HAVING COUNT(*) <= 1000),
          |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b, a.s AS sa, b2.s AS sb
          | FROM blk a JOIN ok ON a.b = ok.b AND a.bv = ok.bv
          |  JOIN blk b2 ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
          |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS dist
          |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
          |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
      // q120: the sketch finds candidates, the CONFIRM threshold is plain
      // SQL — cnt * (k+1) > N with k = 50
      "q120_heavy_hitters" ->
        s"""WITH tok AS (SELECT unnest($toks) AS token FROM documents),
          |tot AS (SELECT COUNT(*) AS n FROM tok)
          |SELECT token, COUNT(*) AS cnt FROM tok, tot GROUP BY token, tot.n
          |HAVING COUNT(*) * 51 > tot.n
          |ORDER BY token""".stripMargin.replace("\n", " "),
      // q121: rank by token count desc (doc_id ties), snake over 8 shards
      "q121_snake_shards" ->
        s"""WITH r AS (SELECT doc_id AS id, CAST(len($toks) AS BIGINT) AS n,
          |  CAST(ROW_NUMBER() OVER (ORDER BY len($toks) DESC, doc_id) AS BIGINT) AS rank
          | FROM documents)
          |SELECT id, n, rank,
          | CASE WHEN (rank-1) % 16 < 8 THEN (rank-1) % 16 ELSE 15 - ((rank-1) % 16) END AS shard
          |FROM r ORDER BY id""".stripMargin.replace("\n", " "),
      // q122: quantized-integer sums (floor(x * 2^20 + 0.5) — exact in
      // double arithmetic) make the per-dim means order-independent and
      // engine-exact; the divisions mirror the Spark expression shape
      "q122_embedding_drift" ->
        """WITH e AS (SELECT (vec_id % 2 = 0) AS a, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |x AS (SELECT a, CAST(i - 1 AS BIGINT) AS dim,
          |  CAST(FLOOR(v[i] * 1048576.0 + 0.5) AS BIGINT) AS q
          | FROM (SELECT a, unnest(generate_series(1, len(v))) AS i, v FROM e)),
          |g AS (SELECT dim,
          |  CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          |  CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
          |  CAST(COALESCE(SUM(CASE WHEN a THEN q END), 0) AS BIGINT) AS sa,
          |  CAST(COALESCE(SUM(CASE WHEN NOT a THEN q END), 0) AS BIGINT) AS sb
          | FROM x GROUP BY dim)
          |SELECT dim, n_a, n_b,
          | CAST(sa AS DOUBLE) / (CAST(n_a AS DOUBLE) * 1048576.0) AS mean_a,
          | CAST(sb AS DOUBLE) / (CAST(n_b AS DOUBLE) * 1048576.0) AS mean_b,
          | abs(CAST(sa AS DOUBLE) / (CAST(n_a AS DOUBLE) * 1048576.0)
          |   - CAST(sb AS DOUBLE) / (CAST(n_b AS DOUBLE) * 1048576.0)) AS shift
          |FROM g ORDER BY dim""".stripMargin.replace("\n", " "),
      // q123: the closed-form waterfill — walking capacities ascending,
      // the first source whose capacity holds the equal share of the
      // remainder fixes the level T; everyone gets min(cap, T)
      "q123_waterfill_alloc" ->
        s"""WITH caps AS (SELECT source, CAST(SUM(CAST(len($toks) AS BIGINT)) AS BIGINT) AS cap
          | FROM documents GROUP BY source),
          |w AS (SELECT source, cap,
          |  CAST(ROW_NUMBER() OVER (ORDER BY cap, source) AS BIGINT) AS i,
          |  CAST(COUNT(*) OVER () AS BIGINT) AS nsrc,
          |  CAST(COALESCE(SUM(cap) OVER (ORDER BY cap, source
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bef
          | FROM caps),
          |c AS (SELECT source, cap, i, (20000 - bef) // (nsrc - i + 1) AS cand FROM w),
          |m AS (SELECT source, cap, i, cand,
          |  MIN(CASE WHEN cand <= cap THEN i END) OVER () AS mi FROM c),
          |tt AS (SELECT source, cap,
          |  MAX(CASE WHEN i = mi THEN cand END) OVER () AS t FROM m)
          |SELECT source, cap,
          | CASE WHEN t IS NULL THEN cap ELSE least(cap, t) END AS alloc
          |FROM tt ORDER BY source""".stripMargin.replace("\n", " "),
      // q124: q58's cluster oracle verbatim, then sizes -> basis-point
      // loss weights
      "q124_soft_dedup" ->
        s"""WITH RECURSIVE sig AS (SELECT doc_id, md5(${mh("0")} || '|' || ${mh("1")}) AS band FROM documents),
          |ok AS (SELECT band FROM sig GROUP BY band HAVING COUNT(*) <= 1000),
          |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          | FROM sig a JOIN sig b USING (band)
          | WHERE a.doc_id < b.doc_id AND a.band IN (SELECT band FROM ok)),
          |ee AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
          |reach AS (
          | SELECT doc_id AS id, doc_id AS lab FROM documents
          | UNION
          | SELECT ee.dst AS id, reach.lab FROM reach JOIN ee ON reach.id = ee.src),
          |cl AS (SELECT id AS doc_id, MIN(lab) AS canonical_id FROM reach GROUP BY id),
          |sz AS (SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
          | FROM cl GROUP BY canonical_id)
          |SELECT cl.doc_id, cl.canonical_id, sz.cluster_size,
          | 10000 // cluster_size AS weight_bp
          |FROM cl JOIN sz USING (canonical_id) ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q125: the seeded identity-hash permutation — 60-bit md5 prefix as
      // the sort key, doc_id breaking (astronomically unlikely) ties
      "q125_shuffle_order" ->
        """WITH h AS (SELECT doc_id AS id,
          |  CAST(('0x' || substr(md5('42#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS key
          | FROM documents)
          |SELECT id, key, CAST(ROW_NUMBER() OVER (ORDER BY key, id) AS BIGINT) AS ord
          |FROM h ORDER BY id""".stripMargin.replace("\n", " "),
      // q126: q59's n-gram hash, distinct per doc, min-doc_id first
      // occurrence, integer basis-point novelty
      "q126_ngram_novelty" ->
        s"""WITH ng AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len($toks) - 7),
          |  i -> CAST(('0x' || substr(md5(array_to_string(list_slice($toks, i, i + 7), ' ')), 1, 15)) AS BIGINT)))) AS ngh
          | FROM documents),
          |f AS (SELECT ngh, MIN(doc_id) AS first_id FROM ng GROUP BY ngh)
          |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
          | CAST(SUM(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
          | (CAST(SUM(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) AS BIGINT) * 10000)
          |   // CAST(COUNT(*) AS BIGINT) AS novel_bp
          |FROM ng JOIN f USING (ngh) GROUP BY doc_id
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q127: q73's CTE chain through the cluster closure, then sizes ->
      // weights instead of the canonical-only filter; decontamination
      // still drops, weights reflect pre-decontamination multiplicity
      "q127_curate_soft" ->
        s"""WITH RECURSIVE d AS (SELECT doc_id, lang, source, text ||
          |  CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
          |  CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.1 and +1 555 0100 ' || (doc_id % 100) ELSE '' END AS text
          | FROM documents),
          |pool AS (SELECT * FROM d WHERE doc_id % 37 <> 0),
          |g AS (SELECT source FROM pool GROUP BY source
          | HAVING COUNT(*) >= 20
          |  AND SUM(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) * 10000 >= SUM(length(text)) * 8100),
          |s1 AS (SELECT * FROM pool WHERE source IN (SELECT source FROM g)),
          |s2 AS (SELECT * FROM s1
          | WHERE len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) = 0
          |  AND len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) = 0
          |  AND len(regexp_extract_all(text, '\\+[0-9][0-9 -]{7,}[0-9]')) = 0),
          |ex AS (SELECT MIN(doc_id) AS doc_id FROM s2 GROUP BY md5(text)),
          |s3 AS (SELECT * FROM s2 WHERE doc_id IN (SELECT doc_id FROM ex)),
          |sig AS (SELECT doc_id, md5(${mh("0")} || '|' || ${mh("1")}) AS band FROM s3),
          |ok AS (SELECT band FROM sig GROUP BY band HAVING COUNT(*) <= 1000),
          |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          | FROM sig a JOIN sig b USING (band)
          | WHERE a.doc_id < b.doc_id AND a.band IN (SELECT band FROM ok)),
          |ee AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
          |reach AS (
          | SELECT doc_id AS id, doc_id AS lab FROM s3
          | UNION
          | SELECT ee.dst AS id, reach.lab FROM reach JOIN ee ON reach.id = ee.src),
          |cc AS (SELECT id, MIN(lab) AS canon FROM reach GROUP BY id),
          |sz AS (SELECT canon, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM cc GROUP BY canon),
          |bg AS (SELECT DISTINCT CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 7),
          |   i -> array_to_string(list_slice($toks, i, i + 7), ' ')))), 1, 15)) AS BIGINT) AS ngh
          | FROM d WHERE doc_id % 37 = 0),
          |hit AS (SELECT DISTINCT doc_id FROM (
          |  SELECT doc_id, CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 7),
          |    i -> array_to_string(list_slice($toks, i, i + 7), ' ')))), 1, 15)) AS BIGINT) AS ngh
          |  FROM s3) x WHERE ngh IN (SELECT ngh FROM bg))
          |SELECT s3.doc_id, s3.source, cc.canon AS canonical_id, sz.cluster_size,
          | 10000 // sz.cluster_size AS weight_bp
          |FROM s3 JOIN cc ON s3.doc_id = cc.id JOIN sz USING (canon)
          |WHERE s3.doc_id NOT IN (SELECT doc_id FROM hit)
          |ORDER BY s3.doc_id""".stripMargin.replace("\n", " "),
      // q128: dup election on content hash, contamination flag from the
      // %37 benchmark's n-grams, alpha ratio — rolled up per source
      "q128_source_report" ->
        s"""WITH base AS (SELECT source, doc_id, CAST(len($toks) AS BIGINT) AS ntok,
          |  CAST(length(text) AS BIGINT) AS nchar,
          |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS nalpha,
          |  md5(text) AS h FROM documents),
          |f AS (SELECT h, MIN(doc_id) AS keep FROM base GROUP BY h),
          |ng AS (SELECT doc_id,
          |  CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 7),
          |    i -> array_to_string(list_slice($toks, i, i + 7), ' ')))), 1, 15)) AS BIGINT) AS ngh
          | FROM documents),
          |bench AS (SELECT DISTINCT ngh FROM ng WHERE doc_id % 37 = 0),
          |hit AS (SELECT DISTINCT doc_id FROM ng WHERE ngh IN (SELECT ngh FROM bench)),
          |rep AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          | CAST(SUM(ntok) AS BIGINT) AS n_tokens,
          | CAST(SUM(CASE WHEN base.doc_id <> f.keep THEN 1 ELSE 0 END) AS BIGINT) AS nd,
          | CAST(SUM(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nc,
          | CAST(SUM(nchar) AS BIGINT) AS sc, CAST(SUM(nalpha) AS BIGINT) AS sa
          | FROM base JOIN f USING (h) LEFT JOIN hit ON base.doc_id = hit.doc_id
          | GROUP BY source),
          |g AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS gn,
          |  CAST(SUM(nc) AS BIGINT) AS gx FROM rep)
          |SELECT source, n_docs, n_tokens,
          | nd * 10000 // n_docs AS dup_bp,
          | nc * 10000 // n_docs AS contam_bp,
          | (nc * 1000000 + 25 * (gx * 1000000 // gn)) // (n_docs + 25) AS contam_shrunk_ppm,
          | CASE WHEN sc > 0 THEN sa * 10000 // sc ELSE CAST(0 AS BIGINT) END AS alpha_bp
          |FROM rep, g ORDER BY source""".stripMargin.replace("\n", " "),
      // q129: last-writer-wins by version; the fixture's versions are
      // unique per id so ORDER BY version DESC is the whole tie-break
      "q129_apply_changelog" ->
        """WITH d AS (SELECT doc_id, text FROM documents),
          |u AS (
          | SELECT doc_id, 0 AS version, 'upsert' AS op, text FROM d WHERE doc_id < 400
          | UNION ALL SELECT doc_id, 1, 'upsert', text || ' v2' FROM d WHERE doc_id % 3 = 0
          | UNION ALL SELECT doc_id, 2, 'delete', text FROM d WHERE doc_id % 7 = 0
          | UNION ALL SELECT doc_id, 3, 'upsert', text || ' v3' FROM d WHERE doc_id % 11 = 0
          | UNION ALL SELECT doc_id, 4, 'upsert', text FROM d WHERE doc_id >= 400 AND doc_id < 450),
          |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn FROM u)
          |SELECT doc_id, CAST(version AS BIGINT) AS version, text
          |FROM r WHERE rn = 1 AND op = 'upsert' ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q130: the reference per-bucket window formulation (fine at oracle
      // scale; the Spark side uses the two-phase distributed index)
      "q130_length_buckets" ->
        s"""WITH q AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n FROM documents),
          |b AS (SELECT doc_id, n, n // 16 AS bucket FROM q),
          |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1 AS idx FROM b),
          |a AS (SELECT bucket, idx // 8 AS batch_id, n FROM r)
          |SELECT bucket, CAST(batch_id AS BIGINT) AS batch_id,
          | CAST(COUNT(*) AS BIGINT) AS n_docs, MAX(n) AS max_len,
          | CAST(SUM(n) AS BIGINT) AS sum_tokens,
          | CAST(COUNT(*) * MAX(n) - SUM(n) AS BIGINT) AS pad_waste
          |FROM a GROUP BY 1, 2 ORDER BY bucket, batch_id""".stripMargin.replace("\n", " "),
      // q131: NB trained on the doc_id < 250 seed slice (label = lang
      // 'en'), top-500 vocab by seed count, Mitchell-log2 fixed-point —
      // model / totals / prior / score mirror nbClassify term for term
      "q131_nb_classifier" ->
        s"""$nbCommon
          |SELECT doc_id, n_iv, score, score > 0 AS pred
          |FROM scored ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q132: q80's ADC stage kept to a 20-deep shortlist, then the exact
      // ‖n‖² − 2·<q,n> refine in the same 1e-9 fixed point
      "q132_pq_rerank" ->
        s"""$pqCommon,
          |q AS (SELECT id AS q_id, s, sv AS qv FROM sub WHERE id < 5),
          |terms AS (SELECT q.q_id, asg.id AS n_id,
          |  CAST(FLOOR(1e9 * (cb.cdot - 2*list_dot_product(q.qv, cb.cv))) AS BIGINT) AS t
          | FROM q JOIN asg ON q.s = asg.s JOIN cb ON cb.s = asg.s AND cb.code = asg.code
          | WHERE asg.id <> q.q_id),
          |adc AS (SELECT q_id, n_id, SUM(t) AS d FROM terms GROUP BY q_id, n_id),
          |short AS (SELECT q_id, n_id FROM (
          | SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rnk FROM adc)
          | WHERE rnk <= 20),
          |ex AS (SELECT sh.q_id, sh.n_id,
          |  CAST(FLOOR(1e9 * (list_dot_product(c.v, c.v)
          |    - 2*list_dot_product(qe.v, c.v))) AS BIGINT) AS d
          | FROM short sh JOIN e qe ON qe.id = sh.q_id JOIN e c ON c.id = sh.n_id)
          |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk FROM (
          | SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rnk FROM ex)
          |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin.replace("\n", " "),
      // q133: q25's cosine ranking + label votes; DCG/ideal-DCG weights
      // are the SAME integer literals the Spark plan bakes in
      "q133_knn_eval" -> {
        val w = Similarity.dcgWeights(10)
        val wLit = w.mkString("[", ", ", "]")
        val cumLit = w.scanLeft(0L)(_ + _).mkString("[", ", ", "]")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
          |s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, q.label AS q_label, c.label AS n_label,
          |  COALESCE(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), -1.0) AS cos
          | FROM e q JOIN e c ON q.vec_id < 25 AND q.vec_id <> c.vec_id),
          |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM s),
          |t AS (SELECT * FROM r WHERE rnk <= 10),
          |agg AS (SELECT q_id, q_label AS label,
          |  CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
          |  CAST(SUM(CASE WHEN n_label = q_label THEN $wLit[rnk] ELSE 0 END) AS BIGINT) AS dcg
          | FROM t GROUP BY q_id, q_label),
          |maj AS (SELECT q_id, n_label AS maj_label FROM (
          |  SELECT q_id, n_label, COUNT(*) AS votes,
          |   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY COUNT(*) DESC, n_label) AS rr
          |  FROM t GROUP BY q_id, n_label) WHERE rr = 1)
          |SELECT a.q_id, a.label, m.maj_label, m.maj_label = a.label AS acc,
          | a.n_rel, a.dcg,
          | CASE WHEN a.n_rel > 0
          |  THEN CAST((10000 * a.dcg) // ($cumLit[CAST(a.n_rel AS INT) + 1]) AS BIGINT)
          |  ELSE CAST(0 AS BIGINT) END AS ndcg_bp
          |FROM agg a JOIN maj m USING (q_id) ORDER BY q_id""".stripMargin.replace("\n", " ")
      },
      // q134: q131's scores (shared CTEs) against the lang truth; the
      // cumulative sweep runs over BINS only, descending threshold
      "q134_pr_curve" ->
        s"""$nbCommon,
          |lab AS (SELECT doc_id,
          |  CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y FROM documents),
          |b AS (SELECT score // 65536 AS bin, y FROM scored JOIN lab USING (doc_id)),
          |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
          | FROM b GROUP BY bin),
          |c AS (SELECT bin, n, pos,
          |  CAST(SUM(pos) OVER w AS BIGINT) AS tp,
          |  CAST(SUM(n - pos) OVER w AS BIGINT) AS fp
          | FROM g WINDOW w AS (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |t AS (SELECT CAST(SUM(pos) AS BIGINT) AS tot FROM g)
          |SELECT bin * 65536 AS threshold, n, tp, fp,
          | (10000 * tp) // (tp + fp) AS precision_bp,
          | CASE WHEN tot > 0 THEN (10000 * tp) // tot ELSE CAST(0 AS BIGINT) END AS recall_bp
          |FROM c, t ORDER BY threshold DESC""".stripMargin.replace("\n", " "),
      // q135: Kneser-Ney at bigram-type level — discount in quarters,
      // both fixed-point terms floored independently, flog2(2^20) =
      // 1310720 subtracted as the scale constant
      "q135_kneser_ney" ->
        s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
          |p AS (SELECT doc_id,
          |  CAST(('0x' || substr(md5(bg.f), 1, 15)) AS BIGINT) AS fh,
          |  CAST(('0x' || substr(md5(bg.w1), 1, 15)) AS BIGINT) AS w1h,
          |  CAST(('0x' || substr(md5(bg.w2), 1, 15)) AS BIGINT) AS w2h FROM (
          |  SELECT doc_id, unnest(list_transform(range(len(toks)-1),
          |    i -> struct_pack(w1 := toks[i+1], w2 := toks[i+2],
          |      f := toks[i+1] || ' ' || toks[i+2]))) AS bg FROM tk)),
          |bw AS (SELECT fh, CAST(COUNT(*) AS BIGINT) AS c12,
          |  MAX(w1h) AS w1h, MAX(w2h) AS w2h FROM p GROUP BY fh),
          |ctx AS (SELECT w1h, CAST(SUM(c12) AS BIGINT) AS c1,
          |  CAST(COUNT(*) AS BIGINT) AS n1w1 FROM bw GROUP BY w1h),
          |pre AS (SELECT w2h, CAST(COUNT(*) AS BIGINT) AS n1w2 FROM bw GROUP BY w2h),
          |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bw),
          |tl AS (SELECT bw.fh,
          |  (1048576 * (4 * bw.c12 - 3)) // (4 * ctx.c1) AS t1,
          |  (3 * 1048576 * ctx.n1w1 * pre.n1w2) // (4 * ctx.c1 * nn.nb) AS t2
          | FROM bw JOIN ctx USING (w1h) JOIN pre USING (w2h), nn),
          |r AS (SELECT p.doc_id, ${fl2("(t1 + t2 + 1)")} - 1310720 AS lp
          | FROM p JOIN tl USING (fh)),
          |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          |  CAST(SUM(lp) AS BIGINT) AS kn_logprob FROM r GROUP BY doc_id)
          |SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
          | COALESCE(a.kn_logprob, 0) AS kn_logprob
          |FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
      // q136: the q54 md5->float mapping seeded by (text, frame offset);
      // frames = 0..duration step 20000, duration = n_chars*40 (the
      // mediaFromDocuments contract)
      "q136_frame_features" ->
        """WITH v AS (SELECT doc_id AS media_id, text, n_chars * 40 AS duration_ms
          |  FROM documents WHERE doc_id % 3 = 2),
          |f AS (SELECT media_id, text,
          |  unnest(generate_series(0, duration_ms, 20000)) AS frame_ms FROM v),
          |h AS (SELECT media_id, CAST(frame_ms AS BIGINT) AS frame_ms,
          |  md5(text || ':' || CAST(frame_ms AS VARCHAR)) AS d FROM f)
          |SELECT media_id, frame_ms,
          | CAST(CAST(('0x' || substr(d, 1, 2)) AS INT) - 128 AS DOUBLE) / 128 AS e0,
          | CAST(CAST(('0x' || substr(d, 3, 2)) AS INT) - 128 AS DOUBLE) / 128 AS e1,
          | CAST(CAST(('0x' || substr(d, 5, 2)) AS INT) - 128 AS DOUBLE) / 128 AS e2
          |FROM h ORDER BY media_id, frame_ms""".stripMargin.replace("\n", " "),
      // q137: q25's cosine pair shape with kind-partitioned ranking
      "q137_contrastive_pairs" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
          |s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          |  CASE WHEN q.label = c.label THEN 'pos' ELSE 'neg' END AS kind,
          |  COALESCE(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), -1.0) AS cos
          | FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
          |r AS (SELECT q_id, kind, n_id,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id, kind ORDER BY cos DESC, n_id) AS BIGINT) AS rnk
          | FROM s)
          |SELECT q_id, kind, n_id, rnk FROM r
          |WHERE rnk <= CASE WHEN kind = 'pos' THEN 2 ELSE 3 END
          |ORDER BY q_id, kind, rnk""".stripMargin.replace("\n", " "),
      // q138: q124's recursive cluster CTEs + q78's md5-fraction split
      // hashed on the CANONICAL id
      "q138_cluster_split" ->
        s"""WITH RECURSIVE sig AS (SELECT doc_id, md5(${mh("0")} || '|' || ${mh("1")}) AS band FROM documents),
          |ok AS (SELECT band FROM sig GROUP BY band HAVING COUNT(*) <= 1000),
          |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          | FROM sig a JOIN sig b USING (band)
          | WHERE a.doc_id < b.doc_id AND a.band IN (SELECT band FROM ok)),
          |ee AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
          |reach AS (
          | SELECT doc_id AS id, doc_id AS lab FROM documents
          | UNION
          | SELECT ee.dst AS id, reach.lab FROM reach JOIN ee ON reach.id = ee.src),
          |cl AS (SELECT id AS doc_id, MIN(lab) AS canonical_id FROM reach GROUP BY id),
          |h AS (SELECT doc_id, canonical_id,
          |  CAST(('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 AS f
          | FROM cl)
          |SELECT doc_id, canonical_id,
          | CASE WHEN f < 0.8 THEN 'train' WHEN f < (0.8 + 0.1) THEN 'val' ELSE 'test' END AS split
          |FROM h ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q139: q73's injection/gate/PII/exact CTEs restricted to the %11
      // batch, then the two corpus anti joins (content md5, q70's band
      // key), then the within-batch recursive clusters, then the q73
      // benchmark-hit CTE — stage order mirrors curateIncremental
      "q139_curate_incremental" ->
        s"""WITH RECURSIVE d AS (SELECT doc_id, lang, source, text ||
          |  CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
          |  CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.1 and +1 555 0100 ' || (doc_id % 100) ELSE '' END AS text
          | FROM documents),
          |pool AS (SELECT * FROM d WHERE doc_id % 11 = 0),
          |corp AS (SELECT * FROM d WHERE doc_id % 11 <> 0),
          |g AS (SELECT source FROM pool GROUP BY source
          | HAVING COUNT(*) >= 2
          |  AND SUM(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) * 10000 >= SUM(length(text)) * 8100),
          |s1 AS (SELECT * FROM pool WHERE source IN (SELECT source FROM g)),
          |s2 AS (SELECT * FROM s1
          | WHERE len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) = 0
          |  AND len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) = 0
          |  AND len(regexp_extract_all(text, '\\+[0-9][0-9 -]{7,}[0-9]')) = 0),
          |ex AS (SELECT MIN(doc_id) AS doc_id FROM s2 GROUP BY md5(text)),
          |s3 AS (SELECT * FROM s2 WHERE doc_id IN (SELECT doc_id FROM ex)),
          |cx AS (SELECT DISTINCT md5(text) AS h FROM corp),
          |s3b AS (SELECT * FROM s3 WHERE md5(text) NOT IN (SELECT h FROM cx)),
          |ck AS (SELECT DISTINCT '0#' || md5(${mh("0")} || '|' || ${mh("1")} || '|' || ${mh("2")} || '|' || ${mh("3")} || '|' || ${mh("4")} || '|' || ${mh("5")} || '|' || ${mh("6")} || '|' || ${mh("7")}) AS k FROM corp),
          |s3c AS (SELECT * FROM s3b
          | WHERE '0#' || md5(${mh("0")} || '|' || ${mh("1")} || '|' || ${mh("2")} || '|' || ${mh("3")} || '|' || ${mh("4")} || '|' || ${mh("5")} || '|' || ${mh("6")} || '|' || ${mh("7")}) NOT IN (SELECT k FROM ck)),
          |sig AS (SELECT doc_id, md5(${mh("0")} || '|' || ${mh("1")} || '|' || ${mh("2")} || '|' || ${mh("3")} || '|' || ${mh("4")} || '|' || ${mh("5")} || '|' || ${mh("6")} || '|' || ${mh("7")}) AS band FROM s3c),
          |ok AS (SELECT band FROM sig GROUP BY band HAVING COUNT(*) <= 1000),
          |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          | FROM sig a JOIN sig b USING (band)
          | WHERE a.doc_id < b.doc_id AND a.band IN (SELECT band FROM ok)),
          |ee AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
          |reach AS (
          | SELECT doc_id AS id, doc_id AS lab FROM s3c
          | UNION
          | SELECT ee.dst AS id, reach.lab FROM reach JOIN ee ON reach.id = ee.src),
          |cc AS (SELECT id, MIN(lab) AS canon FROM reach GROUP BY id),
          |s4 AS (SELECT s3c.* FROM s3c JOIN cc ON s3c.doc_id = cc.id AND s3c.doc_id = cc.canon),
          |bg AS (SELECT DISTINCT CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 7),
          |   i -> array_to_string(list_slice($toks, i, i + 7), ' ')))), 1, 15)) AS BIGINT) AS ngh
          | FROM d WHERE doc_id % 37 = 0),
          |hit AS (SELECT DISTINCT doc_id FROM (
          |  SELECT doc_id, CAST(('0x' || substr(md5(unnest(list_transform(generate_series(1, len($toks) - 7),
          |    i -> array_to_string(list_slice($toks, i, i + 7), ' ')))), 1, 15)) AS BIGINT) AS ngh
          |  FROM s4) x WHERE ngh IN (SELECT ngh FROM bg))
          |SELECT doc_id, lang, source FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM hit)
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // q140: the window-cumsum reference layout + per-(doc, seq) slices
      // reassembled in offset order — q102's prefix sums materialized
      "q140_packed_sequences" ->
        s"""WITH q AS (SELECT doc_id, lang AS stratum, $toks AS toks,
          |  CAST(len($toks) AS BIGINT) AS n FROM documents),
          |w AS (SELECT *, CAST(SUM(n) OVER (PARTITION BY stratum ORDER BY doc_id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS running FROM q),
          |s AS (SELECT stratum, running, toks, n,
          |  unnest(generate_series(running // 64, (running + n - 1) // 64)) AS seq_id
          | FROM w WHERE n > 0),
          |p AS (SELECT stratum, CAST(seq_id AS BIGINT) AS seq_id, running,
          |  list_slice(toks, CAST(GREATEST(0, seq_id*64 - running) + 1 AS BIGINT),
          |   CAST(LEAST(n, (seq_id+1)*64 - running) AS BIGINT)) AS piece
          | FROM s),
          |g AS (SELECT stratum, seq_id,
          |  CAST(SUM(len(piece)) AS BIGINT) AS n_toks,
          |  array_to_string(flatten(list(piece ORDER BY running)), ' ') AS text
          | FROM p GROUP BY stratum, seq_id)
          |SELECT stratum, seq_id, n_toks, text FROM g ORDER BY stratum, seq_id""".stripMargin.replace("\n", " "),
      // q141: the K-way NB, per-class CTEs generated from the same class
      // list the Spark plan bakes in; argmax tie = first class in order
      "q141_nb_langid" -> {
        val cls = Seq("de", "en", "es", "fr", "zh")
        val ix = cls.indices
        val cdefs = cls.zipWithIndex.map { case (c, i) =>
          s"CAST(SUM(CASE WHEN c = '$c' THEN 1 ELSE 0 END) AS BIGINT) AS c$i"
        }.mkString(", ")
        val total = ix.map(i => s"c$i").mkString(" + ")
        val norms = ix.map(i =>
          fl2(s"(CAST(SUM(c$i) AS BIGINT) + 500)") + s" AS norm$i").mkString(", ")
        val pris = cls.zipWithIndex.map { case (c, i) =>
          fl2(s"(CAST(COUNT(CASE WHEN lang = '$c' THEN 1 END) AS BIGINT))") + s" AS p$i"
        }.mkString(", ")
        val ss = ix.map(i =>
          s"CAST(COALESCE(SUM(${fl2(s"(m.c$i + 1)")}), 0) AS BIGINT) AS s$i").mkString(", ")
        val scs = ix.map(i => s"p$i + s$i - n_iv * norm$i AS sc$i").mkString(", ")
        val scList = ix.map(i => s"sc$i").mkString(", ")
        val caseChain = cls.zipWithIndex.dropRight(1)
          .map { case (c, i) => s"WHEN sc$i = mx THEN '$c'" }.mkString(" ")
        s"""WITH seedtok AS (SELECT lang AS c, unnest($toks) AS w
          |  FROM documents WHERE doc_id < 250),
          |cnt AS (SELECT w, $cdefs FROM seedtok GROUP BY w),
          |model AS (SELECT * FROM (
          |  SELECT *, ROW_NUMBER() OVER (ORDER BY ($total) DESC, w) AS rn FROM cnt)
          | WHERE rn <= 500),
          |tot AS (SELECT $norms FROM model),
          |pri AS (SELECT $pris FROM documents WHERE doc_id < 250),
          |tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
          |sc AS (SELECT t.doc_id, CAST(COUNT(m.w) AS BIGINT) AS n_iv, $ss
          | FROM tok t LEFT JOIN model m ON t.w = m.w GROUP BY t.doc_id),
          |f AS (SELECT doc_id, n_iv, $scs FROM sc, tot, pri),
          |g AS (SELECT doc_id, n_iv, GREATEST($scList) AS mx, $scList FROM f)
          |SELECT doc_id, n_iv,
          | CASE $caseChain ELSE '${cls.last}' END AS pred, mx AS score
          |FROM g ORDER BY doc_id""".stripMargin.replace("\n", " ")
      },
      // q142: per-benchmark-item distinct 8-grams vs the corpus's hash
      // set — q109's join flipped to the benchmark side
      "q142_bench_coverage" ->
        s"""WITH bg AS (SELECT doc_id, unnest(list_distinct(list_transform(
          |   generate_series(1, len($toks) - 7),
          |   i -> CAST(('0x' || substr(md5(array_to_string(list_slice($toks, i, i + 7), ' ')), 1, 15)) AS BIGINT)))) AS ngh
          | FROM documents WHERE doc_id % 37 = 0),
          |cx AS (SELECT DISTINCT CAST(('0x' || substr(md5(unnest(list_transform(
          |   generate_series(1, len($toks) - 7),
          |   i -> array_to_string(list_slice($toks, i, i + 7), ' ')))), 1, 15)) AS BIGINT) AS ngh
          | FROM documents WHERE doc_id % 37 <> 0),
          |g AS (SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
          |  CAST(SUM(CASE WHEN cx.ngh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
          | FROM bg LEFT JOIN cx USING (ngh) GROUP BY bg.doc_id)
          |SELECT d.doc_id, COALESCE(g.n_ngrams, 0) AS n_ngrams,
          | COALESCE(g.n_covered, 0) AS n_covered,
          | CASE WHEN COALESCE(g.n_ngrams, 0) > 0
          |  THEN (10000 * g.n_covered) // g.n_ngrams ELSE CAST(0 AS BIGINT) END AS coverage_bp
          |FROM (SELECT doc_id FROM documents WHERE doc_id % 37 = 0) d
          |LEFT JOIN g USING (doc_id) ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
      // q143: add-1 KL surrogate over the corpus top-500 vocabulary,
      // Mitchell-log2 fixed point, one (source, token) count table
      "q143_source_divergence" ->
        s"""WITH tok AS (SELECT source, unnest($toks) AS w FROM documents),
          |cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w FROM tok GROUP BY w),
          |topv AS (SELECT w, c_w FROM (
          |  SELECT *, ROW_NUMBER() OVER (ORDER BY c_w DESC, w) AS rn FROM cnt) WHERE rn <= 500),
          |t AS (SELECT CAST(SUM(c_w) AS BIGINT) AS t_all FROM topv),
          |sw AS (SELECT source, tok.w, CAST(COUNT(*) AS BIGINT) AS c_sw, MAX(topv.c_w) AS c_w
          | FROM tok JOIN topv ON tok.w = topv.w GROUP BY source, tok.w),
          |ts AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS t_s FROM sw GROUP BY source),
          |terms AS (SELECT sw.source,
          |  sw.c_sw * (${fl2("(c_sw + 1)")} + ${fl2("(t_all + 500)")}
          |    - ${fl2("(c_w + 1)")} - ${fl2("(t_s + 500)")}) AS term, ts.t_s
          | FROM sw JOIN ts USING (source), t),
          |g AS (SELECT source, MAX(t_s) AS n_top_tokens,
          |  CAST(SUM(term) AS BIGINT) AS kl_sum FROM terms GROUP BY source)
          |SELECT source, n_top_tokens, kl_sum,
          | CASE WHEN n_top_tokens > 0 THEN kl_sum // n_top_tokens
          |  ELSE CAST(0 AS BIGINT) END AS kl_per_token
          |FROM g ORDER BY source""".stripMargin.replace("\n", " "),
      // q144: q57's winnow candidate CTEs + q24's token-hash sets,
      // scored by the overlap coefficient |A∩B| / min(|A|,|B|)
      "q144_containment_pairs" ->
        s"""WITH s AS (SELECT doc_id,
          |  list_transform(generate_series(1, length(text) - 4), i ->
          |    CAST(('0x' || substr(md5(substr(text, i, 5)), 1, 8)) AS BIGINT)) AS h
          | FROM documents),
          |f AS (SELECT doc_id,
          |  CASE WHEN len(h) >= 8 THEN
          |    list_sort(list_distinct(list_transform(generate_series(1, len(h) - 7), i -> list_min(h[i:i+7]))))
          |  ELSE NULL END AS fp
          | FROM s),
          |e AS (SELECT doc_id, unnest(fp) AS band FROM f WHERE fp IS NOT NULL),
          |ok AS (SELECT band FROM e GROUP BY band HAVING COUNT(*) <= 50),
          |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          | FROM e a JOIN e b ON a.band = b.band AND a.doc_id < b.doc_id
          | WHERE a.band IN (SELECT band FROM ok)),
          |d AS (SELECT doc_id,
          |  list_distinct(list_transform($toks, w -> CAST(('0x' || substr(md5(w),1,8)) AS BIGINT))) AS tk
          | FROM documents),
          |x AS (SELECT p.id_a, p.id_b,
          |  CAST(len(da.tk) AS BIGINT) AS n_a, CAST(len(db.tk) AS BIGINT) AS n_b,
          |  CAST(len(list_filter(da.tk, t -> list_contains(db.tk, t))) AS BIGINT) AS inter
          | FROM p JOIN d da ON da.doc_id = p.id_a JOIN d db ON db.doc_id = p.id_b)
          |SELECT id_a, id_b, n_a, n_b, inter,
          | CAST(inter AS DOUBLE) / CAST(LEAST(n_a, n_b) AS DOUBLE) AS overlap
          |FROM x WHERE CAST(inter AS DOUBLE) / CAST(LEAST(n_a, n_b) AS DOUBLE) >= 0.8
          |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
      // q145: the cascade inherently carries the ordered semantics — u_i
      // only exists for users who reached stage i, strictly-after by ts
      "q145_funnel" ->
        """WITH u1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
          |  WHERE event_type = 'view' GROUP BY user_id),
          |u2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN u1 USING (user_id)
          |  WHERE e.event_type = 'click' AND e.ts > u1.t1 GROUP BY e.user_id),
          |u3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN u2 USING (user_id)
          |  WHERE e.event_type = 'purchase' AND e.ts > u2.t2 GROUP BY e.user_id),
          |u AS (SELECT DISTINCT user_id FROM events)
          |SELECT u.user_id,
          | CAST(CASE WHEN u3.user_id IS NOT NULL THEN 3
          |  WHEN u2.user_id IS NOT NULL THEN 2
          |  WHEN u1.user_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS depth,
          | u3.user_id IS NOT NULL AS completed
          |FROM u LEFT JOIN u1 USING (user_id) LEFT JOIN u2 USING (user_id)
          |LEFT JOIN u3 USING (user_id) ORDER BY u.user_id""".stripMargin.replace("\n", " "),
      // q146: integer epoch-day arithmetic on both engines
      "q146_retention" ->
        """WITH d AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
          |f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id),
          |x AS (SELECT DISTINCT f.cohort_day, d.day - f.cohort_day AS day_offset, d.user_id
          | FROM d JOIN f USING (user_id))
          |SELECT cohort_day, day_offset, CAST(COUNT(*) AS BIGINT) AS n_users
          |FROM x GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin.replace("\n", " "),
      // q147: the integer A-Res key — 60-bit md5 folded mod 2^46,
      // F = flog2(2^46) = 3014656; smallest k keys win, ties by id.
      // The null filter mirrors withAresKey's (null id / null weight rows
      // are excluded by the weights>=1 contract, not by data luck)
      "q147_weighted_sample" ->
        s"""WITH q AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS w FROM documents
          | WHERE doc_id IS NOT NULL AND text IS NOT NULL),
          |h AS (SELECT doc_id, w,
          |  CAST(('0x' || substr(md5('7' || '#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |    % 70368744177664 AS u
          | FROM q),
          |s AS (SELECT doc_id, w,
          |  ((3014656 - ${fl2("(u + 1)")}) * 1048576) // w AS skey FROM h)
          |SELECT doc_id, w AS weight, skey FROM s
          |ORDER BY skey, doc_id LIMIT 100""".stripMargin.replace("\n", " "),
      // q148: q147's key ranked within each language (same null filter)
      "q148_weighted_stratified" ->
        s"""WITH q AS (SELECT doc_id, lang AS stratum,
          |  CAST(len($toks) AS BIGINT) AS w FROM documents
          | WHERE doc_id IS NOT NULL AND text IS NOT NULL),
          |h AS (SELECT doc_id, stratum, w,
          |  CAST(('0x' || substr(md5('7' || '#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |    % 70368744177664 AS u
          | FROM q),
          |s AS (SELECT doc_id, stratum, w,
          |  ((3014656 - ${fl2("(u + 1)")}) * 1048576) // w AS skey FROM h),
          |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY skey, doc_id) AS rn FROM s)
          |SELECT doc_id, stratum, w AS weight, skey FROM r WHERE rn <= 20
          |ORDER BY stratum, skey, doc_id""".stripMargin.replace("\n", " "),
      // q150: like q103, the oracle constructs the PSL-aware domain from
      // the injection parity — 4 labels under the 3-label .pref.aichi.jp
      // suffix, 3 under .co.uk, 3 under the *.ck wildcard, the constant
      // www.ck for the !www.ck exception, 2 under .com — independently
      // verifying the loaded-snapshot full-rule cascade
      "q150_psl4_domains" ->
        """WITH d AS (SELECT text,
          |  CASE WHEN doc_id % 5 = 0 THEN 'shop' || CAST(doc_id % 5 AS VARCHAR) || '.pref.aichi.jp'
          |   WHEN doc_id % 5 = 1 THEN 'shop' || CAST(doc_id % 5 AS VARCHAR) || '.co.uk'
          |   WHEN doc_id % 5 = 2 THEN 'shop' || CAST(doc_id % 5 AS VARCHAR) || '.free.ck'
          |   WHEN doc_id % 5 = 3 THEN 'www.ck'
          |   ELSE 'shop' || CAST(doc_id % 5 AS VARCHAR) || '.com' END AS domain
          | FROM documents),
          |g AS (SELECT domain, COUNT(*) AS n_docs,
          |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
          |  CAST(SUM(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) AS BIGINT) AS sum_alpha
          | FROM d GROUP BY domain)
          |SELECT domain, n_docs, sum_chars,
          | CAST(CASE WHEN sum_chars > 0 THEN sum_alpha * 10000 // sum_chars ELSE 0 END AS BIGINT) AS alpha_bp
          |FROM g ORDER BY domain""".stripMargin.replace("\n", " "),
      // q149: q120's confirm threshold per source — cnt*(k+1) > N_source
      // with k = 50; the sketch only proposes candidates, so the oracle
      // is the plain per-group frequency threshold
      "q149_heavy_hitters_by" ->
        s"""WITH tok AS (SELECT source, unnest($toks) AS token FROM documents),
          |tot AS (SELECT source, COUNT(*) AS n FROM tok GROUP BY source)
          |SELECT tok.source, token, COUNT(*) AS cnt
          |FROM tok JOIN tot ON tok.source = tot.source
          |GROUP BY tok.source, token, tot.n
          |HAVING COUNT(*) * 51 > tot.n
          |ORDER BY tok.source, token""".stripMargin.replace("\n", " "),

      // q151: the same micro-degree grid, string round-trip, box filter,
      // and BIGINT distance surrogate — cosScale is the shared
      // driver-computed literal; all divisions on non-negative operands
      // so `div` (Spark, truncating) and `//` (DuckDB, flooring) agree
      "q151_geo_near" -> {
        val c = graft.ops.Geo.cosScale(37250000L)
        s"""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS id,
          |  (CAST(p_partkey AS BIGINT) * 96064793) % 180000001 - 90000000 AS la,
          |  (CAST(p_partkey AS BIGINT) * 144721393) % 360000001 - 180000000 AS lo FROM part),
          |g AS (SELECT id, '"' ||
          |  CASE WHEN la < 0 THEN '-' ELSE '' END || CAST(abs(la) // 1000000 AS VARCHAR)
          |  || '.' || lpad(CAST(abs(la) % 1000000 AS VARCHAR), 6, '0') || ' ' ||
          |  CASE WHEN lo < 0 THEN '-' ELSE '' END || CAST(abs(lo) // 1000000 AS VARCHAR)
          |  || '.' || lpad(CAST(abs(lo) % 1000000 AS VARCHAR), 6, '0') || '"' AS o FROM p),
          |pt AS (SELECT id,
          |  CAST(CAST(split_part(trim(o, '"'), ' ', 1) AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS latm,
          |  CAST(CAST(split_part(trim(o, '"'), ' ', 2) AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS lonm
          | FROM g),
          |nb AS (SELECT id, latm, lonm,
          |  abs(latm - 37250000) AS dlat, abs(lonm - (-100500000)) AS dlon FROM pt
          | WHERE latm BETWEEN 27250000 AND 47250000
          |   AND lonm BETWEEN -110500000 AND -90500000)
          |SELECT id, latm, lonm,
          |  dlat*dlat + ((dlon * $c) // 1048576) * ((dlon * $c) // 1048576) AS dist2
          |FROM nb ORDER BY dist2, id LIMIT 25""".stripMargin.replace("\n", " ")
      },

      // q152: the aggregate path computes the SAME rows as q148 (exact
      // top-k under the same total order) — the oracle is q148's,
      // including withAresKey's null-row filter
      "q152_weighted_agg" ->
        s"""WITH q AS (SELECT doc_id, lang AS stratum,
          |  CAST(len($toks) AS BIGINT) AS w FROM documents
          | WHERE doc_id IS NOT NULL AND text IS NOT NULL),
          |h AS (SELECT doc_id, stratum, w,
          |  CAST(('0x' || substr(md5('7' || '#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |    % 70368744177664 AS u
          | FROM q),
          |s AS (SELECT doc_id, stratum, w,
          |  ((3014656 - ${fl2("(u + 1)")}) * 1048576) // w AS skey FROM h),
          |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY skey, doc_id) AS rn FROM s)
          |SELECT doc_id, stratum, w AS weight, skey FROM r WHERE rn <= 20
          |ORDER BY stratum, skey, doc_id""".stripMargin.replace("\n", " "),

      // q153: per-n CTE chain — n-grams by list slice, per-(doc, gram)
      // counts, dup/total char sums, top gram by (cnt DESC, gram) = the
      // fold's first-in-sorted-order strict-greater tie-break; docs with
      // fewer than n tokens coalesce to 0, NULL text mirrors the
      // kernel's null-in-null-out (NULL metrics, not 0); SUM() is
      // HUGEINT so every output casts BIGINT
      "q153_ngram_repetition" ->
        s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          |g2 AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
          |  i -> array_to_string(toks[(i+1):(i+2)], ' '))) AS gram FROM t WHERE len(toks) >= 2),
          |c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt, len(gram) AS glen
          | FROM g2 GROUP BY doc_id, gram),
          |r2 AS (SELECT doc_id, SUM(cnt*glen) AS tot,
          |  SUM(CASE WHEN cnt >= 2 THEN cnt*glen ELSE 0 END) AS dup FROM c2 GROUP BY doc_id),
          |b2 AS (SELECT doc_id, cnt*glen AS topchars FROM (
          |  SELECT doc_id, cnt, glen,
          |   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn FROM c2)
          | WHERE rn = 1),
          |g5 AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 4),
          |  i -> array_to_string(toks[(i+1):(i+5)], ' '))) AS gram FROM t WHERE len(toks) >= 5),
          |c5 AS (SELECT doc_id, gram, COUNT(*) AS cnt, len(gram) AS glen
          | FROM g5 GROUP BY doc_id, gram),
          |r5 AS (SELECT doc_id, SUM(cnt*glen) AS tot,
          |  SUM(CASE WHEN cnt >= 2 THEN cnt*glen ELSE 0 END) AS dup FROM c5 GROUP BY doc_id),
          |b5 AS (SELECT doc_id, cnt*glen AS topchars FROM (
          |  SELECT doc_id, cnt, glen,
          |   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn FROM c5)
          | WHERE rn = 1)
          |SELECT d.doc_id,
          |  CASE WHEN d.text IS NULL THEN NULL ELSE
          |   CAST(COALESCE((b2.topchars * 1000000) // r2.tot, 0) AS BIGINT) END AS top2gram_ppm,
          |  CASE WHEN d.text IS NULL THEN NULL ELSE
          |   CAST(COALESCE((r2.dup * 1000000) // r2.tot, 0) AS BIGINT) END AS dup2gram_ppm,
          |  CASE WHEN d.text IS NULL THEN NULL ELSE
          |   CAST(COALESCE((b5.topchars * 1000000) // r5.tot, 0) AS BIGINT) END AS top5gram_ppm,
          |  CASE WHEN d.text IS NULL THEN NULL ELSE
          |   CAST(COALESCE((r5.dup * 1000000) // r5.tot, 0) AS BIGINT) END AS dup5gram_ppm
          |FROM documents d
          |LEFT JOIN r2 USING(doc_id) LEFT JOIN b2 USING(doc_id)
          |LEFT JOIN r5 USING(doc_id) LEFT JOIN b5 USING(doc_id)
          |ORDER BY doc_id""".stripMargin.replace("\n", " "),

      // q154: mirror the 5-line synthesis, then the same three line
      // rules (terminal punct, >= 3 words, no bad substring) and the
      // >= 2 kept-lines doc gate
      "q154_c4_lines" -> {
        // plain string: \s must not go through s-interpolation escapes
        val lineWords = """len(string_split_regex(trim(l), '\s+'))"""
        s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          |ln AS (SELECT doc_id, concat_ws(chr(10),
          |  array_to_string(toks[1:6], ' ') || '.',
          |  CASE WHEN len(toks) >= 7 THEN '- ' || array_to_string(toks[7:9], ' ')
          |   ELSE '- ' END,
          |  'please enable javascript to view this page.',
          |  CASE WHEN len(toks) >= 10 THEN array_to_string(toks[10:11], ' ')
          |   ELSE '' END,
          |  CASE WHEN doc_id % 2 = 0 AND len(toks) >= 12
          |   THEN array_to_string(toks[12:19], ' ') || '!'
          |   ELSE '' END) AS text FROM t),
          |f AS (SELECT doc_id, string_split(text, chr(10)) AS ls,
          |  list_filter(string_split(text, chr(10)), l ->
          |    regexp_matches(trim(l), '[.!?"]$$')
          |    AND $lineWords >= 3
          |    AND NOT contains(lower(trim(l)), 'javascript')
          |    AND NOT contains(lower(trim(l)), 'lorem ipsum')
          |    AND NOT contains(lower(trim(l)), '{')) AS keep
          | FROM ln)
          |SELECT doc_id, CAST(len(ls) AS BIGINT) AS c4_lines,
          |  CAST(len(keep) AS BIGINT) AS c4_kept,
          |  array_to_string(keep, chr(10)) AS c4_text,
          |  len(keep) >= 2 AS c4_pass
          |FROM f ORDER BY doc_id""".stripMargin.replace("\n", " ")
      },

      // q155: q98's assignment CTEs, emitted per vector instead of
      // aggregated into the balance histogram
      "q155_ivf_assign" ->
        """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings WHERE vec_id < 300),
          |c AS (SELECT id AS cid, v AS cv FROM e WHERE id < 8),
          |sim AS (SELECT e.id, c.cid,
          |  COALESCE(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), -1.0) AS csim
          | FROM e, c)
          |SELECT id, cid FROM (SELECT id, cid,
          |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cid) AS rn FROM sim)
          |WHERE rn = 1 ORDER BY id""".stripMargin.replace("\n", " "),

      // q157: the same grid + a VALUES query set carrying the SAME
      // driver-computed cosScale literals; per-query box join + exact
      // BIGINT rank, top 5
      "q157_geo_knn_join" -> {
        def gLat(i: Long) = (i * 96064793L) % 180000001L - 90000000L
        def gLon(i: Long) = (i * 144721393L) % 360000001L - 180000000L
        val rows = Seq(100L, 200L, 300L)
          .map(i => s"(${i}, ${gLat(i)}, ${gLon(i)}, ${graft.ops.Geo.cosScale(gLat(i))})")
          .mkString(", ")
        s"""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS id,
          |  (CAST(p_partkey AS BIGINT) * 96064793) % 180000001 - 90000000 AS latm,
          |  (CAST(p_partkey AS BIGINT) * 144721393) % 360000001 - 180000000 AS lonm FROM part),
          |q(qid, qlatm, qlonm, coss) AS (VALUES $rows),
          |j AS (SELECT CAST(q.qid AS BIGINT) AS qid, p.id,
          |  abs(p.latm - q.qlatm) AS dlat, abs(p.lonm - q.qlonm) AS dlon, q.coss
          | FROM p, q
          | WHERE p.latm BETWEEN q.qlatm - 15000000 AND q.qlatm + 15000000
          |   AND p.lonm BETWEEN q.qlonm - 15000000 AND q.qlonm + 15000000),
          |d AS (SELECT qid, id,
          |  dlat*dlat + ((dlon*coss) // 1048576) * ((dlon*coss) // 1048576) AS dist2 FROM j),
          |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, id) AS rn FROM d)
          |SELECT qid, id, CAST(dist2 AS BIGINT) AS dist2 FROM r WHERE rn <= 5
          |ORDER BY qid, dist2, id""".stripMargin.replace("\n", " ")
      },

      // q156: q111's scoring CTEs + the fixed-point mean NLL (negate
      // before the non-negative integer division) + per-language NTILE;
      // SUM is HUGEINT in DuckDB, so cast before the multiply
      "q156_ccnet_buckets" ->
        s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
          |tok AS (SELECT doc_id,
          |  CAST(('0x' || substr(md5(unnest(toks)), 1, 15)) AS BIGINT) AS w1h FROM tk),
          |u AS (SELECT w1h, CAST(COUNT(*) AS BIGINT) AS cnt1 FROM tok GROUP BY w1h),
          |vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM u),
          |p AS (SELECT doc_id,
          |  CAST(('0x' || substr(md5(bg.w1), 1, 15)) AS BIGINT) AS w1h,
          |  CAST(('0x' || substr(md5(bg.f), 1, 15)) AS BIGINT) AS fh FROM (
          |  SELECT doc_id, unnest(list_transform(range(len(toks)-1),
          |    i -> struct_pack(w1 := toks[i+1], f := toks[i+1] || ' ' || toks[i+2]))) AS bg FROM tk)),
          |bi AS (SELECT fh, CAST(COUNT(*) AS BIGINT) AS cnt2 FROM p GROUP BY fh),
          |r AS (SELECT p.doc_id, ${fl2("(bi.cnt2+1)")} - ${fl2("(u.cnt1+vv.v)")} AS lp
          | FROM p JOIN bi USING (fh) JOIN u USING (w1h), vv),
          |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          |  CAST(SUM(lp) AS BIGINT) AS lm_logprob FROM r GROUP BY doc_id),
          |sc AS (SELECT d.doc_id, d.lang,
          |  CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
          |  CASE WHEN COALESCE(a.n_bigrams, 0) > 0
          |   THEN CAST(((0 - a.lm_logprob) * 65536) // a.n_bigrams AS BIGINT)
          |   ELSE 4611686018427387904 END AS avg_nll
          | FROM documents d LEFT JOIN a USING (doc_id))
          |SELECT doc_id, lang, n_bigrams, avg_nll,
          | CAST(NTILE(3) OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS BIGINT) AS bucket
          |FROM sc ORDER BY doc_id""".stripMargin.replace("\n", " "),

      // q158: binned two-sample KS between sources — dense (source, bin)
      // grid, integer-ppm CDFs (floor division, non-negative operands),
      // max |cdf_a - cdf_b| per pair. SUM windows are HUGEINT in DuckDB:
      // cast before the multiply.
      "q158_ks_source_drift" ->
        s"""WITH docs AS (SELECT source, CAST(len($toks) AS BIGINT) AS tok
          |  FROM documents
          |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND source IS NOT NULL),
          |cnt AS (SELECT source, least(63, tok // 2) AS bin, CAST(COUNT(*) AS BIGINT) AS c
          |  FROM docs GROUP BY 1, 2),
          |grid AS (SELECT s.source, g.bin
          |  FROM (SELECT DISTINCT source FROM cnt) s
          |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bin) g),
          |dense AS (SELECT g.source, g.bin, COALESCE(c.c, 0) AS c
          |  FROM grid g LEFT JOIN cnt c ON g.source = c.source AND g.bin = c.bin),
          |cdf AS (SELECT source, bin,
          |  CAST(SUM(c) OVER (PARTITION BY source ORDER BY bin) AS BIGINT) * 1000000
          |    // CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS cdf_ppm
          |  FROM dense)
          |SELECT a.source AS src_a, b.source AS src_b,
          |  CAST(MAX(ABS(a.cdf_ppm - b.cdf_ppm)) AS BIGINT) AS ks_ppm
          |FROM cdf a JOIN cdf b ON a.bin = b.bin AND a.source < b.source
          |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin.replace("\n", " "),

      // q159: 2x2 contingency in one aggregate, ppm marginals, chance
      // agreement pe = pa*pb + (1-pa)(1-pb); kappa numerator can be
      // negative — `//` floors, mirrored by the engine's pmod form
      "q159_label_kappa" ->
        s"""WITH docs AS (SELECT
          |  CAST(len($toks) AS BIGINT) >= 40 AS ra, n_chars >= 250 AS rb
          |  FROM documents
          |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND n_chars IS NOT NULL),
          |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS agree,
          |  CAST(SUM(CASE WHEN ra THEN 1 ELSE 0 END) AS BIGINT) AS a1,
          |  CAST(SUM(CASE WHEN rb THEN 1 ELSE 0 END) AS BIGINT) AS b1 FROM docs),
          |m AS (SELECT n, agree * 1000000 // n AS po_ppm,
          |  a1 * 1000000 // n AS pa, b1 * 1000000 // n AS pb FROM agg),
          |p AS (SELECT n, po_ppm,
          |  (pa * pb + (1000000 - pa) * (1000000 - pb)) // 1000000 AS pe_ppm FROM m)
          |SELECT n AS n_docs, po_ppm, pe_ppm,
          |  CASE WHEN pe_ppm < 1000000
          |   THEN (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm) END AS kappa_ppm
          |FROM p ORDER BY n_docs""".stripMargin.replace("\n", " "),

      // q160: per-group flag counts, one-row global rollup, the shrunk
      // fold (x*1e6 + k*p0) // (n+k) with p0 = gx*1e6 // gn — all-BIGINT
      // floor math on non-negative operands, mirroring the engine's pmod
      // form exactly
      "q160_shrunk_rates" ->
        """WITH per AS (SELECT source AS "group", CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT) AS x
          | FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
          | GROUP BY source),
          |g AS (SELECT CAST(SUM(n) AS BIGINT) AS gn, CAST(SUM(x) AS BIGINT) AS gx FROM per)
          |SELECT "group", n AS n_docs, x * 1000000 // n AS raw_ppm,
          |  (x * 1000000 + 25 * (gx * 1000000 // gn)) // (n + 25) AS shrunk_ppm
          |FROM per, g ORDER BY "group"""".stripMargin.replace("\n", " "),

      // q161: q106's scoring CTEs at k=10 + the coverage ranking, RRF
      // fold (floor division, non-negative) and final fused top-5
      "q161_rrf_fusion" ->
        s"""WITH $bm25Ctes,
          |lex AS (SELECT query_id, doc_id,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rnk FROM sc),
          |dtok AS (SELECT doc_id, unnest(list_distinct($toks)) AS term FROM documents),
          |cv AS (SELECT qt.query_id, dtok.doc_id, COUNT(*) AS coverage
          | FROM dtok JOIN qt USING (term) GROUP BY qt.query_id, dtok.doc_id),
          |cov AS (SELECT query_id, doc_id,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY coverage DESC, doc_id) AS BIGINT) AS rnk FROM cv),
          |un AS (SELECT query_id, doc_id, rnk FROM lex WHERE rnk <= 10
          | UNION ALL SELECT query_id, doc_id, rnk FROM cov WHERE rnk <= 10),
          |f AS (SELECT query_id, doc_id,
          |  CAST(SUM(1000000000 // (60 + rnk)) AS BIGINT) AS rrf_score,
          |  CAST(COUNT(*) AS BIGINT) AS n_lists FROM un GROUP BY query_id, doc_id),
          |fr AS (SELECT query_id, doc_id, rrf_score, n_lists,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rnk FROM f)
          |SELECT query_id, doc_id, rrf_score, n_lists, rnk FROM fr WHERE rnk <= 5
          |ORDER BY query_id, rnk""".stripMargin.replace("\n", " "),

      // q162: q25's cosine ranking at k=10 + the Scala-generated literal
      // discount/prefix tables; IDCG from the per-label census minus self
      "q162_ndcg" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          |  COALESCE(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), -1.0) AS cos
          | FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
          |r AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk FROM s),
          |d(rnk, disc) AS (VALUES $ndcgDiscVals),
          |pf(j, ps) AS (VALUES $ndcgPrefVals),
          |lab AS (SELECT vec_id, label FROM embeddings),
          |cens AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS c FROM embeddings GROUP BY label),
          |dcg AS (SELECT r.q_id, CAST(SUM(CASE WHEN nl.label = ql.label THEN d.disc ELSE 0 END) AS BIGINT) AS dcg_s,
          |  MAX(ql.label) AS qlab
          | FROM r JOIN lab nl ON r.n_id = nl.vec_id JOIN lab ql ON r.q_id = ql.vec_id
          |  JOIN d ON d.rnk = r.rnk WHERE r.rnk <= 10 GROUP BY r.q_id),
          |fin AS (SELECT dcg.q_id, dcg.dcg_s,
          |  CASE WHEN cens.c - 1 > 0 THEN p2.ps ELSE CAST(0 AS BIGINT) END AS idcg_s
          | FROM dcg JOIN cens ON cens.label = dcg.qlab
          | LEFT JOIN pf p2 ON p2.j = least(cens.c - 1, 10))
          |SELECT q_id, dcg_s, idcg_s,
          | CASE WHEN idcg_s > 0 THEN (1000000 * dcg_s) // idcg_s END AS ndcg_ppm
          |FROM fin ORDER BY q_id""".stripMargin.replace("\n", " "),

      // q163: per-item true-vote count, the pair-agreement identity
      // x²+(m−x)², pooled-marginal chance term; kappa numerator can be
      // negative — `//` floors, mirrored by the engine's pmod form
      "q163_fleiss_kappa" ->
        s"""WITH x AS (SELECT (CASE WHEN CAST(len($toks) AS BIGINT) >= 40 THEN 1 ELSE 0 END
          | + CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END
          | + CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 10 >= n_chars * 7 THEN 1 ELSE 0 END) AS xv
          | FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL AND n_chars IS NOT NULL),
          |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(xv) AS BIGINT) AS sx,
          | CAST(SUM(xv*xv + (3-xv)*(3-xv)) AS BIGINT) AS sq FROM x),
          |m AS (SELECT n, (sq - n*3) * 1000000 // (n*6) AS po_ppm,
          | sx * 1000000 // (n*3) AS pt FROM a),
          |p AS (SELECT n, po_ppm,
          | (pt*pt + (1000000-pt)*(1000000-pt)) // 1000000 AS pe_ppm FROM m)
          |SELECT n AS n_docs, CAST(3 AS BIGINT) AS m_raters, po_ppm, pe_ppm,
          | CASE WHEN pe_ppm < 1000000
          |  THEN (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm) END AS kappa_ppm
          |FROM p ORDER BY n_docs""".stripMargin.replace("\n", " "),

      // q164: distinct (source, prefix-md5) keys, equi self-join on the
      // hash, per-pair Jaccard ppm (floor, non-negative); the `ok` CTE
      // mirrors the engine's maxSources=1024 fan-out cap exactly (the
      // q22/q24 bucket-cap precedent — sizes stay TRUE counts)
      "q164_source_overlap" ->
        s"""WITH k AS (SELECT DISTINCT source AS g,
          |  md5(array_to_string(list_slice($toks, 1, 8), ' ')) AS h
          | FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
          |sz AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS sz FROM k GROUP BY g),
          |ok AS (SELECT h FROM k GROUP BY h HAVING COUNT(*) <= 1024),
          |i AS (SELECT a.g AS source_a, b.g AS source_b, CAST(COUNT(*) AS BIGINT) AS intersection
          | FROM k a JOIN k b USING (h) JOIN ok USING (h)
          | WHERE a.g < b.g GROUP BY a.g, b.g)
          |SELECT i.source_a, i.source_b, sa.sz AS size_a, sb.sz AS size_b, i.intersection,
          | (1000000 * i.intersection) // (sa.sz + sb.sz - i.intersection) AS jaccard_ppm
          |FROM i JOIN sz sa ON sa.g = i.source_a JOIN sz sb ON sb.g = i.source_b
          |ORDER BY source_a, source_b""".stripMargin.replace("\n", " "),

      // q165: deduped modular affinity edges, out-degrees, then the
      // three unrolled integer rounds (prRounds) — every division has
      // non-negative operands so `//` = Spark `div` bit-for-bit
      "q165_pagerank" ->
        s"""WITH e AS (SELECT DISTINCT l_orderkey % 211 AS src, l_partkey % 211 AS dst
          |  FROM lineitem WHERE l_orderkey % 211 <> l_partkey % 211),
          |n AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
          |od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
          |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM n),
          |$prRounds
          |SELECT id, r AS rank_micro FROM r3 ORDER BY id""".stripMargin.replace("\n", " "),

      // q166: two rank-selection medians (q85's lower rule) + the robust
      // 3.5-MAD census; all BIGINT, ABS before any division
      "q166_mad_outliers" ->
        """WITH t AS (SELECT source AS g, n_chars AS v FROM documents
          | WHERE source IS NOT NULL AND n_chars IS NOT NULL),
          |r1 AS (SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
          |  COUNT(*) OVER (PARTITION BY g) AS n FROM t),
          |m1 AS (SELECT g, MAX(CASE WHEN rn = CAST(FLOOR(0.5::DOUBLE*(n-1)) AS BIGINT)+1 THEN v END) AS med
          | FROM r1 GROUP BY g),
          |d AS (SELECT t.g, ABS(t.v - m1.med) AS dev FROM t JOIN m1 USING (g)),
          |r2 AS (SELECT g, dev, ROW_NUMBER() OVER (PARTITION BY g ORDER BY dev) AS rn,
          |  COUNT(*) OVER (PARTITION BY g) AS n FROM d),
          |m2 AS (SELECT g, MAX(CASE WHEN rn = CAST(FLOOR(0.5::DOUBLE*(n-1)) AS BIGINT)+1 THEN dev END) AS mad
          | FROM r2 GROUP BY g)
          |SELECT d.g AS "group", MAX(m1.med) AS med, MAX(m2.mad) AS mad,
          | CAST(COUNT(*) AS BIGINT) AS n,
          | CAST(SUM(CASE WHEN d.dev * 1000 > 3500 * m2.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_out
          |FROM d JOIN m1 USING (g) JOIN m2 USING (g) GROUP BY d.g
          |ORDER BY "group"""".stripMargin.replace("\n", " "),

      // q167: q161's retrieval + fusion CTEs at fused top-10; lex
      // matched against the fused list per (query, doc); tau-a over the
      // i<j pair self-join ((c-d)*1e6 can be negative — `//` floors,
      // mirrored by the engine's pmod-div form), RBO via the
      // Scala-generated suffix-weight VALUES table
      "q167_rank_agreement" ->
        s"""WITH $bm25Ctes,
          |lex AS (SELECT query_id, doc_id,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rnk FROM sc),
          |dtok AS (SELECT doc_id, unnest(list_distinct($toks)) AS term FROM documents),
          |cv AS (SELECT qt.query_id, dtok.doc_id, COUNT(*) AS coverage
          | FROM dtok JOIN qt USING (term) GROUP BY qt.query_id, dtok.doc_id),
          |cov AS (SELECT query_id, doc_id,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY coverage DESC, doc_id) AS BIGINT) AS rnk FROM cv),
          |un AS (SELECT query_id, doc_id, rnk FROM lex WHERE rnk <= 10
          | UNION ALL SELECT query_id, doc_id, rnk FROM cov WHERE rnk <= 10),
          |f AS (SELECT query_id, doc_id,
          |  CAST(SUM(1000000000 // (60 + rnk)) AS BIGINT) AS rrf_score,
          |  CAST(COUNT(*) AS BIGINT) AS n_lists FROM un GROUP BY query_id, doc_id),
          |fr AS (SELECT query_id, doc_id,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rnk FROM f),
          |m AS (SELECT la.query_id, la.doc_id, la.rnk AS ra, lb.rnk AS rb
          | FROM (SELECT * FROM lex WHERE rnk <= 10) la
          | JOIN (SELECT * FROM fr WHERE rnk <= 10) lb USING (query_id, doc_id)),
          |tau AS (SELECT i.query_id, CAST(COUNT(*) AS BIGINT) AS pairs,
          |  CAST(SUM(CASE WHEN (i.ra - j.ra) * (i.rb - j.rb) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
          |  CAST(SUM(CASE WHEN (i.ra - j.ra) * (i.rb - j.rb) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant
          | FROM m i JOIN m j ON i.query_id = j.query_id AND i.doc_id < j.doc_id
          | GROUP BY i.query_id),
          |sw(r, w) AS (VALUES $rboSwVals),
          |rbo AS (SELECT m.query_id, CAST(COUNT(*) AS BIGINT) AS common,
          |  CAST(SUM(sw.w) AS BIGINT) AS rbo_s
          | FROM m JOIN sw ON sw.r = greatest(m.ra, m.rb) GROUP BY m.query_id)
          |SELECT tau.query_id, tau.pairs, tau.concordant, tau.discordant,
          | CAST((tau.concordant - tau.discordant) * 1000000 // tau.pairs AS BIGINT) AS tau_ppm,
          | rbo.common, rbo.rbo_s,
          | CAST((1000000 * rbo.rbo_s) // $rboMaxS AS BIGINT) AS rbo_ppm
          |FROM tau JOIN rbo USING (query_id) ORDER BY tau.query_id""".stripMargin.replace("\n", " "),

      // q168: clamped length-scaled confidence vs the q159 token label;
      // per-bin reliability (floor div, non-negative after the clamp)
      // cross-joined with the one-row ECE/MCE fold over the bins
      "q168_calibration" ->
        s"""WITH d AS (SELECT
          |  least(greatest(CAST(n_chars AS BIGINT) * 500, 0), 1000000) AS c,
          |  CASE WHEN CAST(len($toks) AS BIGINT) >= 40 THEN 1 ELSE 0 END AS y
          | FROM documents
          | WHERE doc_id IS NOT NULL AND text IS NOT NULL AND n_chars IS NOT NULL),
          |b AS (SELECT least(c // 100000, 9) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(y) AS BIGINT) AS pos, CAST(SUM(c) AS BIGINT) AS cs
          | FROM d GROUP BY 1),
          |bb AS (SELECT bin, n, pos, cs // n AS avg_conf_ppm,
          |  (1000000 * pos) // n AS acc_ppm,
          |  ABS(cs // n - (1000000 * pos) // n) AS gap_ppm FROM b),
          |e AS (SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
          |  CAST(COUNT(*) AS BIGINT) AS bins_used,
          |  CAST(SUM(n * gap_ppm) // SUM(n) AS BIGINT) AS ece_ppm,
          |  CAST(MAX(gap_ppm) AS BIGINT) AS mce_ppm FROM bb)
          |SELECT bb.bin, bb.n, bb.pos, bb.avg_conf_ppm, bb.acc_ppm, bb.gap_ppm,
          | e.n_docs, e.bins_used, e.ece_ppm, e.mce_ppm
          |FROM bb, e ORDER BY bb.bin""".stripMargin.replace("\n", " "),

      // q169: per-item (x, n) over the nullable rater panel, unpairable
      // items (n < 2) excluded, the coincidence-matrix Do/De fold; every
      // SUM cast to BIGINT (DuckDB SUM is HUGEINT); the alpha numerator
      // (de - do) can be negative — `//` floors, mirrored by the engine's
      // pmod-div form with a positive divisor
      "q169_krippendorff" ->
        s"""WITH d AS (SELECT
          |  CASE WHEN doc_id % 2 = 0 THEN CAST(len($toks) AS BIGINT) >= 40 END AS ra,
          |  n_chars >= 250 AS rb,
          |  CASE WHEN doc_id % 3 = 0
          |   THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 10 >= n_chars * 7 END AS rc
          | FROM documents
          | WHERE doc_id IS NOT NULL AND text IS NOT NULL AND n_chars IS NOT NULL),
          |x AS (SELECT
          |  CAST(CASE WHEN ra THEN 1 ELSE 0 END + CASE WHEN rb THEN 1 ELSE 0 END
          |   + CASE WHEN rc THEN 1 ELSE 0 END AS BIGINT) AS xv,
          |  CAST(CASE WHEN ra IS NOT NULL THEN 1 ELSE 0 END
          |   + CASE WHEN rb IS NOT NULL THEN 1 ELSE 0 END
          |   + CASE WHEN rc IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS nv
          | FROM d),
          |a AS (SELECT CAST(COALESCE(SUM(nv), 0) AS BIGINT) AS n,
          |  CAST(COALESCE(SUM(xv), 0) AS BIGINT) AS t,
          |  CAST(COALESCE(SUM(2 * xv * (nv - xv) * 1000000 // (nv - 1)), 0) AS BIGINT) AS st
          | FROM x WHERE nv >= 2),
          |f AS (SELECT n,
          |  CASE WHEN n > 0 THEN st // n END AS do_ppm,
          |  CASE WHEN n > 1 THEN ((2 * t * 1000000 // n) * (n - t)) // (n - 1) END AS de_ppm
          | FROM a)
          |SELECT n AS n_pairable, do_ppm, de_ppm,
          | CASE WHEN de_ppm > 0 THEN (de_ppm - do_ppm) * 1000000 // de_ppm END AS alpha_ppm
          |FROM f ORDER BY n_pairable""".stripMargin.replace("\n", " "),

      // q170: weighted word vocabulary, char positions, chars + top-64
      // bigram candidates, then the two unrolled greedy-EM rounds
      // (unigramRound); final vocab with usage counts, smoothed Mitchell
      // log2 score, and the prune flag
      "q170_unigram_lm" ->
        s"""WITH v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
          |  FROM (SELECT unnest($toks) AS w FROM documents)
          |  WHERE length(w) >= 1 GROUP BY w),
          |up AS (SELECT w, wc, i,
          |  substr(w, CAST(i AS INT), 1) AS c,
          |  CASE WHEN i < length(w) THEN substr(w, CAST(i AS INT), 2) END AS bg,
          |  CASE WHEN i < length(w) THEN substr(w, CAST(i + 1 AS INT), 1) END AS c2
          | FROM (SELECT w, wc,
          |   unnest(generate_series(1, CAST(length(w) AS BIGINT))) AS i FROM v)),
          |cc AS (SELECT c AS piece, CAST(SUM(wc) AS BIGINT) AS cnt FROM up GROUP BY c),
          |bt AS (SELECT bg AS piece, CAST(SUM(wc) AS BIGINT) AS cnt FROM up
          |  WHERE bg IS NOT NULL GROUP BY bg ORDER BY cnt DESC, piece LIMIT 64),
          |k0 AS (SELECT piece, cnt FROM cc UNION ALL SELECT piece, cnt FROM bt),
          |${unigramRound(1, "k0")},
          |k1 AS (SELECT k0.piece, COALESCE(cr1.cnt, 0) AS cnt
          | FROM k0 LEFT JOIN cr1 ON k0.piece = cr1.piece),
          |${unigramRound(2, "k1")},
          |f2 AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS t2 FROM cr2),
          |vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM k0)
          |SELECT k0.piece, CAST(length(k0.piece) AS BIGINT) AS piece_len,
          | k0.cnt AS cnt0,
          | CAST(COALESCE(cr1.cnt, 0) AS BIGINT) AS cnt1,
          | CAST(COALESCE(cr2.cnt, 0) AS BIGINT) AS cnt2,
          | ${fl2("(COALESCE(cr2.cnt, 0) + 1)")} - ${fl2("(f2.t2 + vv.v)")} AS logp_fp,
          | CAST(CASE WHEN length(k0.piece) = 1 OR COALESCE(cr2.cnt, 0) >= 1
          |  THEN 1 ELSE 0 END AS BIGINT) AS kept
          |FROM k0 LEFT JOIN cr1 ON k0.piece = cr1.piece
          | LEFT JOIN cr2 ON k0.piece = cr2.piece, f2, vv
          |ORDER BY k0.piece""".stripMargin.replace("\n", " "),

      // q171: the md5-seeded stub decode replayed in SQL (all 16 md5
      // bytes -> floats, the q54 byte math), the injected-variant media
      // plane, the q53 bucket-cap CTE, then the q40 SRP + cosine pair SQL
      "q171_media_neardup" ->
        """WITH base AS (SELECT doc_id, text FROM documents),
          |pl AS (SELECT doc_id, text FROM base
          | UNION ALL SELECT doc_id + 1000000, text FROM base WHERE doc_id % 37 = 0),
          |m AS (SELECT doc_id AS id, md5(coalesce(text, '')) AS h FROM pl),
          |e AS (SELECT id, list_transform(generate_series(1, 16), j ->
          |  CAST(CAST(('0x' || substr(h, CAST(2*j - 1 AS INT), 2)) AS INT) - 128 AS DOUBLE) / 128) AS v
          | FROM m),
          |b AS (SELECT id, v, CAST(list_sum(list_transform(generate_series(0, 7), p ->
          |  CASE WHEN list_sum(list_transform(v, (x, i) ->
          |    x * CASE WHEN CAST(('0x' || substr(md5('p' || p || ':' || (i-1)), 1, 4)) AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END)) >= 0
          |  THEN CAST(1 AS BIGINT) << p ELSE 0 END)) AS BIGINT) AS bucket FROM e),
          |ok AS (SELECT bucket FROM b GROUP BY bucket HAVING COUNT(*) BETWEEN 2 AND 2000),
          |k AS (SELECT b.* FROM b WHERE bucket IN (SELECT bucket FROM ok))
          |SELECT a.id AS id_a, c.id AS id_b FROM k a JOIN k c
          | ON a.bucket = c.bucket AND a.id < c.id
          |WHERE COALESCE(list_dot_product(a.v, c.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), -1.0) >= 0.9
          |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),

      // q172: the q170 training CTEs verbatim, then the SERVING model —
      // kept-piece scores, full-candidate-V normalizer (= the logp_fp
      // normalizer), the beneficial-BIGRAM decision table (benefit is a
      // pure function of the bigram), the island closed form over the
      // same position table, and per-document word/piece aggregation
      "q172_unigram_apply" ->
        s"""WITH v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
          |  FROM (SELECT unnest($toks) AS w FROM documents)
          |  WHERE length(w) >= 1 GROUP BY w),
          |up AS (SELECT w, wc, i,
          |  substr(w, CAST(i AS INT), 1) AS c,
          |  CASE WHEN i < length(w) THEN substr(w, CAST(i AS INT), 2) END AS bg,
          |  CASE WHEN i < length(w) THEN substr(w, CAST(i + 1 AS INT), 1) END AS c2
          | FROM (SELECT w, wc,
          |   unnest(generate_series(1, CAST(length(w) AS BIGINT))) AS i FROM v)),
          |cc AS (SELECT c AS piece, CAST(SUM(wc) AS BIGINT) AS cnt FROM up GROUP BY c),
          |bt AS (SELECT bg AS piece, CAST(SUM(wc) AS BIGINT) AS cnt FROM up
          |  WHERE bg IS NOT NULL GROUP BY bg ORDER BY cnt DESC, piece LIMIT 64),
          |k0 AS (SELECT piece, cnt FROM cc UNION ALL SELECT piece, cnt FROM bt),
          |${unigramRound(1, "k0")},
          |k1 AS (SELECT k0.piece, COALESCE(cr1.cnt, 0) AS cnt
          | FROM k0 LEFT JOIN cr1 ON k0.piece = cr1.piece),
          |${unigramRound(2, "k1")},
          |f2 AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS t2 FROM cr2),
          |vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM k0),
          |kv AS (SELECT k0.piece, ${fl2("(COALESCE(cr2.cnt, 0) + 1)")} AS s
          | FROM k0 LEFT JOIN cr2 ON k0.piece = cr2.piece
          | WHERE length(k0.piece) = 1 OR COALESCE(cr2.cnt, 0) >= 1),
          |nm AS (SELECT ${fl2("(f2.t2 + vv.v)")} AS norm FROM f2, vv),
          |bben AS (SELECT bg.piece FROM kv bg
          |  JOIN kv c1 ON substr(bg.piece, 1, 1) = c1.piece
          |  JOIN kv cx ON substr(bg.piece, 2, 1) = cx.piece, nm
          | WHERE length(bg.piece) = 2 AND bg.s + nm.norm > c1.s + cx.s),
          |ab AS (SELECT up.w, up.i, bben.piece IS NOT NULL AS ben
          | FROM up LEFT JOIN bben ON up.bg = bben.piece),
          |ag AS (SELECT w, i, ben,
          |  SUM(CASE WHEN NOT ben THEN 1 ELSE 0 END) OVER (PARTITION BY w ORDER BY i) AS grp
          | FROM ab),
          |ars AS (SELECT w, i, ben,
          |  MIN(CASE WHEN ben THEN i END) OVER (PARTITION BY w, grp) AS rs
          | FROM ag),
          |stc AS (SELECT w, CAST(SUM(CASE WHEN ben AND (i - rs) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS starts
          | FROM ars GROUP BY w),
          |pc AS (SELECT v.w, CAST(length(v.w) AS BIGINT) - COALESCE(stc.starts, 0) AS pieces
          | FROM v LEFT JOIN stc ON v.w = stc.w),
          |dt AS (SELECT doc_id, unnest($toks) AS w FROM documents)
          |SELECT dt.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
          | CAST(SUM(pc.pieces) AS BIGINT) AS n_pieces
          |FROM dt JOIN pc ON dt.w = pc.w
          |GROUP BY dt.doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),
    )
  }
}
