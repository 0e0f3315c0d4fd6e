package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.evaluation.{MAE, MPE, PearsonCorr, RMSE}
import graft.functional.MayFail
import graft.functions.TextFunctions
import graft.functions.VectorFunctions._
import graft.operators.{Behavior, Bpe, Dedup, Graph, Merge, Multimodal, Quantize, Similarity, Sketch, Stats, TimeSeries}
import graft.physical._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data-pipeline operators), each with a
  * DuckDB oracle in [[SparkEntry.oracleSql]] where ANSI-SQL-expressible.
  *
  * Conventions shared by every query so the driver's hash compare works:
  * every computed column is aliased identically in Spark and SQL; every
  * result has a deterministic total order (unique sort key); unstable
  * float aggregates are `round(_, 4)` on both sides.
  */
object SparkEntry {

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The events table has shipped with two `ts` encodings across testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 refuses by default — read
    * nanos as long and `div 1000` to µs, matching DuckDB's ns→µs cast) and
    * plain TIMESTAMP(MICROS) (readable directly). Adapt to whichever the
    * parquet footer declares so every events-backed query survives a data
    * regeneration. */
  private[graft] def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // tz-less parquet micros: cast to TIMESTAMP (session tz is UTC in
        // every entry point, so wall-clock values are preserved) — the
        // NTZ flavor is rejected by event-time watermarking
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already a native timestamp type
    }
  }

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the Phase-1
    * acceptance pipeline from SURVEY §7 — scan → filter → agg → sort
    * through the MayFail monad. */
  def entry(spark: SparkSession): DataFrame =
    q1Agg(spark, "/root/testdata/sf0.001")

  // --- §2.4 aggregations -------------------------------------------------

  /** TPC-H Q1-shaped pricing summary via Read → Filter → Group.Agg →
    * Order (the reference's primary for-comprehension shape, SURVEY §3.1). */
  private def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    (for {
      li <- Read.parquet(s"$dir/lineitem.parquet")
      f  <- Filter.where(li, col("l_shipdate") <= lit("1998-09-02"))
      g  <- Group.agg(f, Seq("l_returnflag", "l_linestatus"), Group.Agg(Seq(
              round(sum(col("l_quantity")), 4).as("sum_qty"),
              round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
              round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
              round(avg(col("l_quantity")), 4).as("avg_qty"),
              round(avg(col("l_discount")), 6).as("avg_disc"),
              count(lit(1)).as("count_order"))))
      o  <- Order.by(g, Seq("l_returnflag", "l_linestatus"))
    } yield o).get
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_agg" -> ((s, dir) => q1Agg(s, dir)),

    "q02_group_map" -> ((s, dir) => {
      // Group.Map strategy: auto-named output columns `fn(col)`
      // (reference Op.scala:101-121 quirk preserved).
      (for {
        g <- Group.agg(tbl(s, dir, "lineitem"), Seq("l_returnflag"),
               Group.Map(Map("l_quantity" -> "min", "l_extendedprice" -> "max")))
        o <- Order.by(g, Seq("l_returnflag"))
      } yield o).get
    }),

    "q03_agg_on" -> ((s, dir) => {
      import s.implicits._
      val v = Agg.on[Double](tbl(s, dir, "lineitem"), "l_extendedprice", math.max).get
      Seq(v).toDF("max_price")
    }),

    "q04_agg_bykey" -> ((s, dir) => {
      import s.implicits._
      (for {
        r <- Agg.byKey[String, Double](tbl(s, dir, "lineitem"),
               "l_returnflag", "l_extendedprice", math.max)
        o <- Order.by(r, Seq("l_returnflag"))
      } yield o).get
    }),

    "q05_rollup" -> ((s, dir) => {
      (for {
        g <- Group.rollup(tbl(s, dir, "lineitem"),
               Seq("l_returnflag", "l_linestatus"),
               Seq(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty")))
        o <- Order.by(g, Seq("l_returnflag", "l_linestatus"))
      } yield o).get
    }),

    "q06_cube" -> ((s, dir) => {
      (for {
        g <- Group.cube(tbl(s, dir, "orders"),
               Seq("o_orderstatus", "o_orderpriority"),
               Seq(count(lit(1)).as("n"),
                 round(sum(col("o_totalprice")), 2).as("sum_price")))
        o <- Order.by(g, Seq("o_orderstatus", "o_orderpriority"))
      } yield o).get
    }),

    // --- §2.2 projections / filters / column ops -------------------------

    "q07_select_rename" -> ((s, dir) => {
      (for {
        p <- Transform.select(tbl(s, dir, "part"), Seq("p_partkey", "p_name", "p_retailprice"))
        r <- Transform.rename(p, Map("p_name" -> "part_name"))
        o <- Order.by(r, Seq("p_partkey"))
      } yield o).get
    }),

    "q08_filter_range" -> ((s, dir) => {
      (for {
        f  <- Filter.byRange(tbl(s, dir, "orders"), "o_totalprice", (50000.0, 100000.0))
        f2 <- Filter.where(f, col("o_orderstatus") === "O")
        sel <- Transform.select(f2, Seq("o_orderkey", "o_totalprice", "o_orderstatus"))
        o  <- Order.by(sel, Seq("o_orderkey"))
      } yield o).get
    }),

    "q09_addcol_na" -> ((s, dir) => {
      (for {
        li <- Filter.na(tbl(s, dir, "lineitem"), Seq("l_quantity", "l_discount"))
        a  <- F.addCol(li, "revenue",
                round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
        sel <- Transform.select(a, Seq("l_orderkey", "l_linenumber", "revenue"))
        o  <- Order.by(sel, Seq("l_orderkey", "l_linenumber"))
      } yield o).get
    }),

    "q10_scalar_funcs" -> ((s, dir) => {
      // when/otherwise, trim, pow, abs, log — the §2.8 scalar surface.
      (for {
        p <- F.lift(tbl(s, dir, "part"))
        a <- Transform(p)(_.select(
               col("p_partkey"),
               when(col("p_size") >= 30, lit("large"))
                 .when(col("p_size") >= 15, lit("medium"))
                 .otherwise(lit("small")).as("size_class"),
               round(pow(col("p_retailprice"), 2), 2).as("price_sq"),
               round(log(col("p_retailprice") + 1), 6).as("log_price"),
               abs(col("p_size") - 25).as("size_dist"),
               trim(col("p_brand")).as("brand")))
        o <- Order.by(a, Seq("p_partkey"))
      } yield o).get
    }),

    "q11_distinct" -> ((s, dir) => {
      (for {
        sel <- Transform.select(tbl(s, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"))
        d <- Transform.distinct(sel)
        o <- Order.by(d, Seq("l_returnflag", "l_linestatus"))
      } yield o).get
    }),

    // --- §2.3 joins ------------------------------------------------------

    "q12_join_inner" -> ((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val customer = tbl(s, dir, "customer")
        .withColumnRenamed("c_custkey", "o_custkey")
      (for {
        j <- Join.inner(orders, customer, Join.On(Seq("o_custkey")))
        g <- Group.agg(j, Seq("c_mktsegment"), Group.Agg(Seq(
               count(lit(1)).as("n_orders"),
               round(sum(col("o_totalprice")), 2).as("revenue"))))
        o <- Order.by(g, Seq("c_mktsegment"))
      } yield o).get
    }),

    "q13_join_left" -> ((s, dir) => {
      val customer = tbl(s, dir, "customer")
      val orders = tbl(s, dir, "orders")
        .withColumnRenamed("o_custkey", "c_custkey")
      (for {
        j <- Join.left(customer, orders, Join.On(Seq("c_custkey")))
        g <- Group.agg(j, Seq("c_custkey"), Group.Agg(Seq(
               count(col("o_orderkey")).as("n_orders"))))
        o <- Order.by(g, Seq("c_custkey"))
      } yield o).get
    }),

    "q14_join_outer" -> ((s, dir) => {
      val nation = tbl(s, dir, "nation")
      val supplier = tbl(s, dir, "supplier")
        .withColumnRenamed("s_nationkey", "n_nationkey")
      (for {
        j <- Join.outer(nation, supplier, Join.On(Seq("n_nationkey")))
        g <- Group.agg(j, Seq("n_name"), Group.Agg(Seq(
               count(col("s_suppkey")).as("n_suppliers"))))
        o <- Order.by(g, Seq("n_name"))
      } yield o).get
    }),

    "q15_join_broadcast" -> ((s, dir) => {
      // Reference's hand-rolled broadcast join → Catalyst BHJ with the
      // documented inner-join semantics quirk (SURVEY §2.3).
      val li = tbl(s, dir, "lineitem").withColumnRenamed("l_suppkey", "s_suppkey")
      (for {
        j <- Join.broadcast(li, tbl(s, dir, "supplier"), Seq("s_suppkey"), Seq("s_name"))
        g <- Group.agg(j, Seq("s_name"), Group.Agg(Seq(
               count(lit(1)).as("n_items"),
               round(sum(col("l_extendedprice")), 2).as("volume"))))
        o <- Order.by(g, Seq("s_name"))
      } yield o).get
    }),

    "q16_join_semi" -> ((s, dir) => {
      val customer = tbl(s, dir, "customer")
      val bigOrders = tbl(s, dir, "orders")
        .filter(col("o_totalprice") > 150000)
        .withColumnRenamed("o_custkey", "c_custkey")
      (for {
        j <- Join.semi(customer, bigOrders, Join.On(Seq("c_custkey")))
        sel <- Transform.select(j, Seq("c_custkey", "c_name"))
        o <- Order.by(sel, Seq("c_custkey"))
      } yield o).get
    }),

    "q17_join_anti" -> ((s, dir) => {
      val customer = tbl(s, dir, "customer")
      val orders = tbl(s, dir, "orders")
        .filter(col("o_totalprice") > 150000)
        .withColumnRenamed("o_custkey", "c_custkey")
      (for {
        j <- Join.anti(customer, orders, Join.On(Seq("c_custkey")))
        sel <- Transform.select(j, Seq("c_custkey", "c_name"))
        o <- Order.by(sel, Seq("c_custkey"))
      } yield o).get
    }),

    "q18_join_theta" -> ((s, dir) => {
      // Join.With (arbitrary Column condition): suppliers in the same
      // nation as a customer, capped to a small slice for output size.
      val c = tbl(s, dir, "customer").filter(col("c_custkey") <= 20)
      val sup = tbl(s, dir, "supplier")
      (for {
        j <- Join.inner(c, sup, Join.With(
               c("c_nationkey") === sup("s_nationkey") && sup("s_acctbal") > c("c_acctbal")))
        sel <- Transform.select(j, Seq("c_custkey", "s_suppkey"))
        o <- Order.by(sel, Seq("c_custkey", "s_suppkey"))
      } yield o).get
    }),

    // --- §2.5 window functions -------------------------------------------

    "q19_window_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      (for {
        a <- Transform(tbl(s, dir, "orders"))(_.select(
               col("o_custkey"), col("o_orderkey"),
               round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
               row_number().over(w).as("rn")))
        o <- Order.by(a, Seq("o_custkey", "o_orderkey"))
      } yield o).get
    }),

    "q20_window_running" -> ((s, dir) => {
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
      // the window order includes the measure columns to make prefix sums
      // engine-independent (identical rows are interchangeable).
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
      (for {
        a <- Transform(tbl(s, dir, "lineitem"))(_.select(
               col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
               round(sum(col("l_quantity"))
                 .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4)
                 .as("running_qty")))
        o <- Order.by(a, Seq("l_suppkey", "l_orderkey", "l_linenumber", "running_qty"))
      } yield o).get
    }),

    // --- §2.6 sort / top-k ------------------------------------------------

    "q21_topk" -> ((s, dir) => {
      Order.topK(
        tbl(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
        Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")),
        50).get
    }),

    // --- §2.7 set operations ----------------------------------------------

    "q22_union" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      (for {
        u <- SetOp.union(
               c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey")),
               c.filter(col("c_acctbal") > 5000).select(col("c_custkey")))
        o <- Order.by(u, Seq("c_custkey"))
        // no tie-break column needed: the result is single-column, so
        // duplicate rows are identical and the oracle hash is order-stable
        // (a global row_number here would serialize into one task at scale)
      } yield o).get
    }),

    "q23_intersect" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      (for {
        i <- SetOp.intersect(
               c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey")),
               c.filter(col("c_acctbal") > 0).select(col("c_custkey")))
        o <- Order.by(i, Seq("c_custkey"))
      } yield o).get
    }),

    "q24_except" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      (for {
        e <- SetOp.except(
               c.select(col("c_custkey")),
               c.filter(col("c_acctbal") < 0).select(col("c_custkey")))
        o <- Order.by(e, Seq("c_custkey"))
      } yield o).get
    }),

    // --- sources / sinks (§2.1) ------------------------------------------

    "q25_csv_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_csv_roundtrip"
      (for {
        r   <- Read.parquet(s"$dir/region.parquet")
        _   <- Write.csv(r, out, NoPartition, overwrite = true)
        csv <- Read.csv(out)
        o   <- Order.by(csv, Seq("r_regionkey"))
      } yield o).get
    }),

    "q92_json_roundtrip" -> ((s, dir) => {
      // JSON sink+source: schema degrades to JSON's type lattice on read
      // (int→bigint), so cast deterministically; oracle reads the original
      // parquet — equality proves the round-trip is lossless.
      implicit val sp: SparkSession = s
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_json_roundtrip"
      (for {
        n  <- Read.parquet(s"$dir/nation.parquet")
        _  <- Write.json(n, out, DefaultPartition, overwrite = true)
        rd <- Read.json(out)
        t  <- Transform(rd)(_.select(col("n_nationkey").cast("long"),
                col("n_name"), col("n_regionkey").cast("long")))
        o  <- Order.by(t, Seq("n_nationkey"))
      } yield o).get
    }),

    "q93_orc_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_orc_roundtrip"
      (for {
        r  <- Read.parquet(s"$dir/supplier.parquet")
        _  <- Write.orc(r, out, PartitionCol(Seq("s_nationkey")), overwrite = true)
        rd <- Read.orc(out)
        t  <- Transform.select(rd, Seq("s_suppkey", "s_name", "s_nationkey"))
        o  <- Order.by(t, Seq("s_suppkey"))
      } yield o).get
    }),

    "q26_parquet_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_pq_roundtrip"
      (for {
        n  <- Read.parquet(s"$dir/nation.parquet")
        _  <- Write.parquet(n, out, PartitionCol(Seq("n_regionkey")), overwrite = true)
        rd <- Read.parquet(out)
        sel <- Transform.select(rd, Seq("n_nationkey", "n_name", "n_regionkey"))
        o  <- Order.by(sel, Seq("n_nationkey"))
      } yield o).get
    }),

    // --- §4 optimise ------------------------------------------------------

    "q27_optimise" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      (for {
        li <- Read.parquet(s"$dir/lineitem.parquet")
        r  <- Optimise.reparBy(li, Seq("l_returnflag"))
        m  <- Optimise.materialise(r)
        g  <- Group.agg(m, Seq("l_returnflag"), Group.Agg(Seq(
                count(lit(1)).as("n"))))
        o  <- Order.by(g, Seq("l_returnflag"))
        // materialise the result through the cache, then release the
        // persisted frame (unpersisting the cached input, not the
        // derived aggregate)
        _  = o.count()
        _  <- Optimise.unpersist(m)
      } yield o).get
    }),

    // --- evaluation measures (§2.11) --------------------------------------

    "q28_measures" -> ((s, dir) => {
      import s.implicits._
      val li = tbl(s, dir, "lineitem")
        .withColumn("pred", col("l_quantity") * (lit(1.0) + col("l_discount")))
      val rmse = RMSE.%(li, "pred", "l_quantity").get
      val mae = MAE.%(li, "pred", "l_quantity").get
      val mpe = MPE.%(li, "pred", "l_quantity").get
      val pearson = PearsonCorr.%(li, "pred", "l_quantity").get
      Seq((math.rint(rmse * 1e4) / 1e4, math.rint(mae * 1e4) / 1e4,
        math.rint(mpe * 1e4) / 1e4, math.rint(pearson * 1e4) / 1e4))
        .toDF("rmse", "mae", "mpe", "pearson")
    }),

    // --- text analysis (training-data pipeline) ---------------------------

    "q29_text_tokens" -> ((s, dir) => {
      tbl(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    }),

    "q30_text_quality" -> ((s, dir) => {
      tbl(s, dir, "documents").select(
        col("doc_id"),
        round(TextFunctions.alphaRatio(col("text")), 6).as("alpha_ratio"),
        round(TextFunctions.meanWordLength(col("text")), 6).as("mean_word_len"),
        TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    "q31_text_langid" -> ((s, dir) => {
      tbl(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    "q32_text_fingerprint" -> ((s, dir) => {
      // Fingerprint stability: two independent fingerprints agree on
      // duplicate structure — count distinct of each must match the
      // count distinct of normalized text.
      tbl(s, dir, "documents").agg(
        countDistinct(TextFunctions.normalizeText(col("text"))).as("n_distinct_text"),
        countDistinct(TextFunctions.fingerprint(col("text"))).as("n_distinct_fp"),
        countDistinct(TextFunctions.rollingFingerprint(col("text"))).as("n_distinct_rfp"))
    }),

    // --- deduplication -----------------------------------------------------

    "q33_dedup_exact" -> ((s, dir) => {
      (for {
        d <- Dedup.exact(tbl(s, dir, "documents"), Seq("text"), "doc_id")
        sel <- Transform.select(d, Seq("doc_id", "lang", "n_chars"))
        o <- Order.by(sel, Seq("doc_id"))
      } yield o).get
    }),

    "q34_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashPairs(tbl(s, dir, "documents"), "text", "doc_id",
        shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        .get.orderBy("idA", "idB")
    }),

    "q35_dedup_simhash" -> ((s, dir) => {
      // Portable md5 simhash kernel so DuckDB can recompute the identical
      // fingerprints → exact oracle (pigeonhole banding guarantees recall,
      // so emitted pairs == ALL pairs with hamming <= 12). The native
      // splitmix kernel stays covered by DedupSpec property tests.
      // bits=60 (the portable signature's real width — no phantom band)
      // and an uncapped bucket size: the oracle has no bucket cap, so the
      // oracle-parity entry must not prune (recall stays guaranteed; cap
      // back for throughput-oriented runs).
      Dedup.simhashPairsFrom(
        Dedup.portableSimhash(tbl(s, dir, "documents"), "text", "doc_id"),
        maxHamming = 12, maxBucket = Int.MaxValue, bits = 60)
        .get.orderBy("idA", "idB")
    }),

    "q36_dedup_ngram" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), "text", "doc_id",
        n = 5, threshold = 0.5)
        .get.orderBy("idA", "idB")
    }),

    "q37_dedup_embedding" -> ((s, dir) => {
      // Synthetic embeddings are near-orthogonal (max pairwise cosine
      // ≈0.48), so the "near-dup" threshold is set low to exercise the path.
      // Portable md5-sign hyperplanes: the emitted set (6×10-bit band
      // agreement AND cosine ≥ 0.25) is a pure function of the data, so
      // DuckDB recomputes it exactly. The seeded-hyperplane variant
      // (embeddingNearDupPairs) stays covered by DedupSpec.
      // uncapped buckets for oracle parity (the oracle joins on bare band
      // agreement; 10-bit bands keep buckets sparse anyway)
      Dedup.embeddingNearDupPairsPortable(tbl(s, dir, "embeddings"),
        "embedding", "vec_id", threshold = 0.25, bandBits = 10, nBands = 6,
        maxBucket = Int.MaxValue)
        .get.orderBy("idA", "idB")
    }),

    // --- similarity search -------------------------------------------------

    "q38_knn_brute" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5)
        .get.orderBy("queryId", "rank")
    }),

    "q39_knn_lsh" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      // Portable-signature banding (15 bands × 4 bits): the candidate set
      // is engine-reproducible, so the retrieved top-k gets an exact
      // DuckDB oracle. Seeded-table lshKnn stays covered by SimilaritySpec.
      Similarity.lshKnnPortable(emb, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, bandBits = 4, nBands = 15)
        .get.orderBy("queryId", "rank")
    }),

    "q40_knn_ivf" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.ivfKnn(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, nCentroids = 8, nProbe = 8)
        .get.orderBy("queryId", "rank")
    }),

    "q41_vec_stats" -> ((s, dir) => {
      // vector column functions over the whole corpus, via the SQL
      // registration path (same native expressions as the Column API)
      graft.functions.GraftFunctions.register(s)
      tbl(s, dir, "embeddings").createOrReplaceTempView("graft_embeddings")
      s.sql("""SELECT label, count(1) AS n,
                 round(avg(vec_norm(embedding)), 4) AS avg_norm
               FROM graft_embeddings GROUP BY label ORDER BY label""")
    }),

    // --- event-time / streaming-shaped -------------------------------------

    "q42_event_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("ws", "event_type")
    }),

    "q43_stream_file" -> ((s, dir) => {
      // Structured Streaming end-to-end, offline: file source → windowed
      // agg → memory sink, drained synchronously.
      implicit val sp: SparkSession = s
      // File stream sources need a directory; stage the single-file events
      // table (with its NANOS timestamps rewritten as micros) into one.
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_stream_src"
      events(s, dir).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val name = "graft_stream_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val out = (for {
        src <- Read.fileStream(staged, "parquet", schema)
        agg <- Transform(src)(_.groupBy(col("event_type"))
                 .agg(count(lit(1)).as("n"),
                   round(sum(col("value")), 4).as("sum_value")))
      } yield agg).get
      val q = out.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
      s.table(name).orderBy("event_type")
    }),

    "q51_stream_window" -> ((s, dir) => {
      // Watermarked event-time window over a file stream, drained to a
      // memory sink; equals the batch window aggregation.
      implicit val sp: SparkSession = s
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_stream_src51"
      events(s, dir).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val name = "graft_sw_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val out = (for {
        src <- Read.fileStream(staged, "parquet", schema)
        agg <- graft.streaming.Stream.windowedAgg(src, "ts", "1 hour", "30 minutes",
                 aggs = Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")),
                 keys = Seq("event_type"))
        res <- graft.streaming.Stream.drainToMemory(agg, name, "complete")
      } yield res).get
      out.select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("ws", "event_type")
    }),

    "q91_stream_sliding" -> ((s, dir) => {
      // Sliding (overlapping) event-time windows — q51 covers tumbling;
      // here every event lands in two 1-hour windows sliding by 30 min.
      implicit val sp: SparkSession = s
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_stream_src91"
      events(s, dir).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val name = "graft_ss_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val out = (for {
        src <- Read.fileStream(staged, "parquet", schema)
        agg <- graft.streaming.Stream.windowedAgg(src, "ts", "1 hour", "1 hour",
                 aggs = Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")),
                 keys = Seq("event_type"), slideDuration = Some("30 minutes"))
        res <- graft.streaming.Stream.drainToMemory(agg, name, "complete")
      } yield res).get
      out.select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("ws", "event_type")
    }),

    "q52_asof_join" -> ((s, dir) => {
      // Point-in-time lookup: for every click, the user's most recent
      // purchase at or before the click. Union+window as-of join.
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          round(col("value"), 4).as("purchase_value"))
      graft.operators.AsOfJoin.backward(
        clicks, purchases, "ts", "purchase_ts", Seq("user_id"),
        rightCols = Seq("purchase_value")).get
        .select(col("event_id"), col("user_id"), col("ts"),
          col("purchase_ts"), col("purchase_value"))
        .orderBy("event_id")
    }),

    "q53_date_funcs" -> ((s, dir) => {
      // §2.8 date/time scalar surface (add_months, year/month, datediff).
      tbl(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        add_months(col("o_orderdate"), 3).cast("date").as("plus3m"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date")).as("days_to_eoy"))
        .orderBy("o_orderkey")
    }),

    "q54_tpch3" -> ((s, dir) => {
      // TPC-H Q3 shape: 3-way join, filter on both sides of the date,
      // revenue top-10. Catalyst broadcast-joins the filtered customers.
      val cust = tbl(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      val orders = tbl(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1997-06-01"))
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1997-06-01"))
      (for {
        co <- Join.inner(orders, cust, Join.On(Seq("o_custkey")))
        j  <- Join.inner(li, co, Join.On(Seq("l_orderkey")))
        g  <- Group.agg(j, Seq("l_orderkey"), Group.Agg(Seq(
                round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
                  .as("revenue"))))
        k  <- Order.topK(g, Seq(col("revenue").desc, col("l_orderkey")), 10)
      } yield k).get
    }),

    "q55_tpch5" -> ((s, dir) => {
      // TPC-H Q5 shape: 5-way star join → revenue by nation. Dimensions
      // broadcast; only lineitem⋈orders shuffles.
      val region = tbl(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = tbl(s, dir, "nation").withColumnRenamed("n_regionkey", "r_regionkey")
      val cust = tbl(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey").as("n_nationkey"))
      val orders = tbl(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      val li = tbl(s, dir, "lineitem")
      (for {
        rn <- Join.inner(nation, region, Join.On(Seq("r_regionkey")))
        cn <- Join.inner(cust, rn, Join.On(Seq("n_nationkey")))
        oc <- Join.inner(orders, cn, Join.On(Seq("o_custkey")))
        j  <- Join.inner(li, oc, Join.On(Seq("l_orderkey")))
        g  <- Group.agg(j, Seq("n_name"), Group.Agg(Seq(
                round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
                  .as("revenue"),
                count(lit(1)).as("n_items"))))
        o  <- Order.by(g, Seq("n_name"))
      } yield o).get
    }),

    "q56_salted_join" -> ((s, dir) => {
      // Skew-resistant salted join: l_returnflag has only 3 values — the
      // degenerate-skew shape. Result must equal the plain join.
      val flags = tbl(s, dir, "lineitem").select("l_returnflag").distinct()
        .withColumn("flag_tag", concat(lit("tag_"), col("l_returnflag")))
      (for {
        j <- Optimise.saltedJoin(tbl(s, dir, "lineitem"), flags,
               Seq("l_returnflag"), saltFactor = 8)
        g <- Group.agg(j, Seq("flag_tag"), Group.Agg(Seq(
               count(lit(1)).as("n"),
               round(sum(col("l_quantity")), 4).as("sum_qty"))))
        o <- Order.by(g, Seq("flag_tag"))
      } yield o).get
    }),

    "q57_percentiles" -> ((s, dir) => {
      // Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
      // quantile_cont) + approx_count_distinct sanity on exact side.
      tbl(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"),
        round(expr("percentile(l_quantity, array(0.25, 0.75))")(0), 4).as("q1"),
        round(expr("percentile(l_quantity, array(0.25, 0.75))")(1), 4).as("q3"))
        .orderBy("l_returnflag")
    }),

    // --- ML / estimator layer ----------------------------------------------

    "q44_string_encoder" -> ((s, dir) => {
      import s.implicits._
      // Vocabulary (murmur hash-space) size learned by the encoder must
      // equal the corpus' distinct whitespace-token count.
      val docs = tbl(s, dir, "documents")
      val model = new graft.estimator.StringEncoder()
        .setInputCol("text").setOutputCol("enc").fit(docs)
      val vocab = model.fitted
        .asInstanceOf[graft.estimator.MurmurFitted].hashSpace.length
      Seq(vocab.toLong).toDF("vocab_size")
    }),

    "q45_scaler" -> ((s, dir) => {
      // Sum-normalising Scaler stage over l_quantity.
      val li = tbl(s, dir, "lineitem")
      val scaled = new graft.estimator.Scaler()
        .setInputCol("l_quantity").setOutputCol("qty_scaled")
        .fit(li).transform(li)
      scaled.select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          round(col("qty_scaled") * 1e6, 6).as("qty_scaled_ppm"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }),

    "q46_standard_scaler" -> ((s, dir) => {
      // Population-σ z-scores of o_totalprice.
      val o = tbl(s, dir, "orders")
      val z = new graft.estimator.GraftStandardScaler()
        .setInputCol("o_totalprice").setOutputCol("z")
        .fit(o).transform(o)
      z.select(col("o_orderkey"), round(col("z"), 6).as("z"))
        .orderBy("o_orderkey")
    }),

    "q47_linreg" -> ((s, dir) => {
      import s.implicits._
      // OLS fit (exact normal-equation solver) of extendedprice ~ quantity;
      // RMSE of the fit matches DuckDB's regr_slope/intercept closed form.
      val li = tbl(s, dir, "lineitem")
      val est = new org.apache.spark.ml.regression.LinearRegression()
        .setFeaturesCol("features").setLabelCol("l_extendedprice")
        .setPredictionCol("prediction").setSolver("normal").setRegParam(0.0)
      val design = graft.evaluation.SupervisedModelDesign(
        "prediction", "l_extendedprice",
        new org.apache.spark.ml.Pipeline().setStages(Array(est)))
      val spec = design.toSpecimen(graft.evaluation.Feature("l_quantity"), li)
      val rmse = spec.score(li, RMSE).get
      Seq(math.rint(rmse * 100) / 100).toDF("rmse")
    }),

    "q48_kmeans" -> ((s, dir) => {
      import s.implicits._
      // KMeans over embeddings. The raw SSE is engine-specific, so the
      // gate checks mathematically GUARANTEED invariants instead (the
      // oracle emits the constants): SSE >= 0, SSE(k=4) <= SSE(k=1)
      // (k=1's center is the mean, i.e. the total scatter — any 4-way
      // partition scatters no more), and the cluster count is sane.
      val emb = tbl(s, dir, "embeddings")
        .withColumn("features",
          org.apache.spark.ml.functions.array_to_vector(col("embedding")))
      val m4 = graft.model.Preset.kmeans(k = 4).fit(emb)
      val assigned = m4.transform(emb)
      val sse4 = graft.evaluation.SSE.%(assigned, "features", "cluster").get
      // total scatter Σ||x − μ||² = Σ_dims var_sample · (n−1) — the SSE of
      // the trivial one-cluster partition (KMeans itself requires k >= 2)
      val srow = emb.select(
        org.apache.spark.ml.stat.Summarizer
          .metrics("variance", "count").summary(col("features")).as("s"))
        .select(col("s.variance"), col("s.count")).head()
      val totalScatter = srow.getAs[org.apache.spark.ml.linalg.Vector](0)
        .toArray.sum * (srow.getLong(1) - 1).toDouble
      val nClusters = assigned.select(countDistinct(col("cluster"))).head().getLong(0)
      // total scatter is engine-independent (Σ_d var_pop·n) — emit it as a
      // VALUE so the oracle recomputes it in SQL and the gate actually
      // cross-checks the quantity the SSE invariants hang off.
      // HALF_UP like DuckDB's round() (math.rint is half-even — a value on
      // a .00005 boundary would hash-differ)
      Seq((emb.count(), sse4 >= 0.0, sse4 <= totalScatter + 1e-6,
          nClusters >= 1 && nClusters <= 4,
          BigDecimal(totalScatter)
            .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("n_points", "sse_nonneg", "sse_below_total", "n_clusters_ok",
          "total_scatter")
    }),

    "q49_crossval" -> ((s, dir) => {
      import s.implicits._
      // CrossValidation machinery end-to-end with a deterministic dummy
      // design: pred = l_quantity + 2 ⇒ MAE exactly 2 in every fold.
      val li = tbl(s, dir, "lineitem").withColumn("pred", col("l_quantity") + 2)
      val cv = graft.evaluation.CrossValidation(MAE, nFolds = 3)
        .run(li, graft.evaluation.DummyModelDesign(labelCol = "pred"),
          graft.evaluation.Feature("l_quantity")).get
      Seq(math.rint(cv * 1e6) / 1e6).toDF("mae_cv")
    }),

    // --- multimodal columns -------------------------------------------------

    "q50_multimodal" -> ((s, dir) => {
      // Text bytes as a stand-in media payload: binary column → decoder
      // metadata struct (mapPartitions plumbing) → project + verify
      // against byte-length arithmetic in the oracle.
      val docs = tbl(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
      (for {
        img <- Multimodal.decodeImage(docs, "payload")
        rs  <- Multimodal.resizeMeta(img, "image_meta", 64, 64)
      } yield rs.select(
        col("doc_id"),
        col("image_meta.width").as("width"),
        col("image_meta.height").as("height"),
        col("image_meta.channels").as("channels"),
        col("resized_meta.width").as("rwidth"),
        col("resized_meta.height").as("rheight"))
        .orderBy("doc_id")).get
    }),

    "q67_zorder" -> ((s, dir) => {
      // Z-order layout is correctness-neutral: aggregates over the
      // re-clustered frame equal the plain aggregates.
      (for {
        z <- Optimise.zorderBy(tbl(s, dir, "lineitem"), "l_partkey", "l_suppkey")
        g <- Group.agg(z, Seq("l_returnflag"), Group.Agg(Seq(
               count(lit(1)).as("n"),
               round(sum(col("l_extendedprice")), 2).as("sum_price"))))
        o <- Order.by(g, Seq("l_returnflag"))
      } yield o).get
    }),

    "q68_fuzzy_join" -> ((s, dir) => {
      // Fuzzy join of the corpus against an exact copy at threshold 1.0:
      // identical shingle sets share every band key, so recall is exactly
      // 1 (not probabilistic) and the oracle can enumerate the expected
      // matches directly — docs grouped by identical 2-shingle SET each
      // match every twin in their group.
      val docs = tbl(s, dir, "documents").select("doc_id", "text", "lang")
      val twins = docs.select(col("doc_id").as("twin_id"), col("text").as("twin_text"))
      graft.operators.FuzzyJoin.byText(docs, twins, "text", "twin_text",
        "doc_id", "twin_id", threshold = 1.0).get
        .groupBy("lang").agg(count(lit(1)).as("n_matches"))
        .orderBy("lang")
    }),

    "q66_sessionize" -> ((s, dir) => {
      // Stateful flatMapGroupsWithState sessionization over a file stream,
      // checked against SQL sessionization: a single batch closes every
      // session except each user's last (mid-batch gap splitting), so the
      // oracle excludes each user's final session.
      implicit val sp: SparkSession = s
      import s.implicits._
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_stream_src66"
      events(s, dir).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val name = "graft_sess_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val out = (for {
        src <- Read.fileStream(staged, "parquet", schema)
        typed = src.select(col("user_id").cast("string"), col("value"), col("ts"))
                  .as[(String, Double, java.sql.Timestamp)]
        sess <- graft.streaming.Stream.sessionize(typed,
                  gapMs = 30L * 60 * 1000, tsColName = "ts")
        res <- graft.streaming.Stream.drainToMemory(sess.toDF(), name)
      } yield res).get
      out.select(col("key").cast("long").as("user_id"), col("n"),
          round(col("sum"), 4).as("sum_value"),
          col("firstMs"), col("lastMs"))
        .orderBy("user_id", "firstMs")
    }),

    "q65_dedup_transitive" -> ((s, dir) => {
      // Plant exact duplicates (self-union with shifted ids); transitive
      // dedup must recover exactly the original corpus per language.
      val docs = tbl(s, dir, "documents")
      val doubled = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
      (for {
        kept <- Dedup.minhashDedupTransitive(doubled, "text", "doc_id",
                  threshold = 1.0)
        g <- Group.agg(kept, Seq("lang"), Group.Agg(Seq(
               count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))))
        o <- Order.by(g, Seq("lang"))
      } yield o).get
    }),

    "q64_sampling" -> ((s, dir) => {
      // Token-budget sampling, VALUE-EXACT: the per-group selection order
      // is the portable md5 hash of (salt § doc_id), so the oracle
      // replays the exact chosen rows — not just their counts. (The
      // fixedPerGroup quota variant stays count-gated in spec tests; its
      // rand(seed) order is intentionally non-portable.)
      graft.operators.Sampling.byTokenBudget(
          tbl(s, dir, "documents"), Seq("lang"), "n_chars",
          budget = 10000L, idCols = Seq("doc_id"), salt = "r4").get
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    }),

    "q62_tpch6" -> ((s, dir) => {
      // TPC-H Q6 shape: tight multi-predicate scan → single aggregate;
      // every predicate must reach the parquet scan.
      (for {
        f <- Filter.where(tbl(s, dir, "lineitem"),
               col("l_shipdate") >= lit("1997-01-01") &&
               col("l_shipdate") < lit("1998-01-01") &&
               col("l_discount").between(0.02, 0.06) &&
               col("l_quantity") < 24)
        g <- Transform(f)(_.agg(
               round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
               count(lit(1)).as("n")))
      } yield g).get
    }),

    "q63_tpch4" -> ((s, dir) => {
      // TPC-H Q4 shape: EXISTS semi-join → count by priority.
      val orders = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1997-07-01"))
      val li = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1997-06-01"))
        .select(col("l_orderkey").as("o_orderkey"))
      (for {
        j <- Join.semi(orders, li, Join.On(Seq("o_orderkey")))
        g <- Group.agg(j, Seq("o_orderpriority"),
               Group.Agg(Seq(count(lit(1)).as("order_count"))))
        o <- Order.by(g, Seq("o_orderpriority"))
      } yield o).get
    }),

    "q60_pivot" -> ((s, dir) => {
      (for {
        p <- Group.pivot(tbl(s, dir, "lineitem"),
               by = Seq("l_returnflag"), pivotCol = "l_linestatus",
               pivotValues = Seq("F", "O"),
               agg = round(sum(col("l_quantity")), 4))
        o <- Order.by(p, Seq("l_returnflag"))
      } yield o).get
    }),

    "q61_unpivot" -> ((s, dir) => {
      (for {
        u <- Transform.unpivot(tbl(s, dir, "supplier"),
               ids = Seq("s_suppkey"), values = Seq("s_acctbal", "s_nationkey"),
               variableColumnName = "metric", valueColumnName = "val")
        a <- Transform(u)(_.withColumn("val", round(col("val"), 4)))
        o <- Order.by(a, Seq("s_suppkey", "metric"))
      } yield o).get
    }),

    "q59_range_join" -> ((s, dir) => {
      // Bucketed range join: lineitem prices into 5k-wide price bands
      // (equi-join on bins instead of a nested-loop theta join).
      import s.implicits._
      val bands = (0 until 20).map(k => (k, k * 5000.0, (k + 1) * 5000.0))
        .toDF("band_id", "lo", "hi")
      graft.operators.RangeJoin.pointInInterval(
        tbl(s, dir, "lineitem"), bands, "l_extendedprice", "lo", "hi",
        binSize = 5000.0).get
        .groupBy("band_id")
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy("band_id")
    }),

    "q58_multimodal_features" -> ((s, dir) => {
      // Byte-histogram feature extraction (mapPartitions): verify derived
      // invariants (nonzero-bucket count, argmax bucket) against the
      // oracle's character-level computation.
      val docs = tbl(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
      val feat = Multimodal.extractFeatures(docs, "payload", dim = 16).get
      feat.select(
        col("doc_id"),
        size(filter(col("features"), x => x > 0f)).cast("long").as("nbuckets"),
        (array_position(col("features"), array_max(col("features"))) - 1).as("top_bucket"))
        .orderBy("doc_id")
    }),

    // --- sketch operators ---------------------------------------------------

    "q69_bloom_join" -> ((s, dir) => {
      // Bloom-pruned semi join: customers with a >200k order. The Bloom
      // filter prunes map-side; the exact semi join scrubs false
      // positives, so the result is exactly the EXISTS semantics.
      Sketch.bloomSemiJoin(
        tbl(s, dir, "customer"),
        tbl(s, dir, "orders").filter(col("o_totalprice") > 200000),
        "c_custkey", "o_custkey").get
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    "q70_cms_topk" -> ((s, dir) => {
      // Heavy hitters without a full-cardinality group-by: Count-Min
      // candidates + exact recount of the shortlist only.
      Sketch.countMinTopK(tbl(s, dir, "lineitem"), "l_partkey", k = 10).get
    }),

    // --- stream-stream operators -------------------------------------------

    "q71_stream_join" -> ((s, dir) => {
      // Watermarked stream-stream interval join: views matched to the
      // same user's purchases within the next 10 minutes. A single-batch
      // drain emits every in-bound match, so the result equals the batch
      // interval join (watermarks only bound state for later batches).
      implicit val sp: SparkSession = s
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_stream_src71"
      events(s, dir).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val name = "graft_ij_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val out = (for {
        src1 <- Read.fileStream(staged, "parquet", schema)
        src2 <- Read.fileStream(staged, "parquet", schema)
        views = src1.filter(col("event_type") === "view")
                  .select(col("user_id"), col("ts").as("v_ts"))
        purchases = src2.filter(col("event_type") === "purchase")
                  .select(col("user_id").as("p_user_id"), col("ts").as("p_ts"),
                    col("value").as("p_value"))
        j <- graft.streaming.Stream.intervalJoin(views, purchases,
               "v_ts", "p_ts", Seq("user_id" -> "p_user_id"),
               watermarkDelay = "1 hour", upperBound = "10 minutes")
        res <- graft.streaming.Stream.drainToMemory(j, name)
      } yield res).get
      out.groupBy("user_id")
        .agg(count(lit(1)).as("n_matches"), round(sum(col("p_value")), 4).as("sum_purchase"))
        .orderBy("user_id")
    }),

    "q72_stream_dedup" -> ((s, dir) => {
      // Streaming dedup with bounded state: the single-batch drain keeps
      // exactly one row per (user_id, event_type), i.e. DISTINCT keys.
      implicit val sp: SparkSession = s
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_stream_src72"
      events(s, dir).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val name = "graft_sd_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val out = (for {
        src <- Read.fileStream(staged, "parquet", schema)
        d <- graft.streaming.Stream.deduplicate(src, Seq("user_id", "event_type"),
               Some("ts"), Some("1 hour"))
        res <- graft.streaming.Stream.drainToMemory(d, name)
      } yield res).get
      out.select("user_id", "event_type").orderBy("user_id", "event_type")
    }),

    // --- merge / upsert / history ------------------------------------------

    "q73_upsert" -> ((s, dir) => {
      // SCD-1 merge exercising both paths: BUILDING customers get their
      // balance doubled (update), custkey<=50 re-keyed NEGATIVE (insert —
      // negated keys can never collide with real customers at any SF).
      val cust = tbl(s, dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      val mods = cust.filter(col("c_mktsegment") === "BUILDING")
        .withColumn("c_acctbal", round(col("c_acctbal") * 2, 2))
      val ins = cust.filter(col("c_custkey") <= 50)
        .withColumn("c_custkey", -col("c_custkey"))
      Merge.upsert(cust, mods.unionByName(ins), Seq("c_custkey"),
        broadcastUpdates = true).get
        .withColumn("c_acctbal", round(col("c_acctbal"), 2))
        .orderBy("c_custkey")
    }),

    "q74_scd2" -> ((s, dir) => {
      // Attribute history from the order change-log: o_orderkey is the
      // per-customer change sequence (unique ⇒ deterministic chaining).
      Merge.scd2(
        tbl(s, dir, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price")),
        keys = Seq("o_custkey"), tsCol = "o_orderkey").get
        .select("o_custkey", "o_orderkey", "price", "valid_from", "valid_to", "is_current")
        .orderBy("o_custkey", "valid_from")
    }),

    "q75_latest" -> ((s, dir) => {
      // CDC compaction: each customer's latest order by change sequence.
      Merge.latestByKey(
        tbl(s, dir, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price")),
        keys = Seq("o_custkey"), orderCol = "o_orderkey").get
        .orderBy("o_custkey")
    }),

    "q86_tpch10" -> ((s, dir) => {
      // TPC-H Q10 shape: returned-item revenue by customer — a 4-table
      // star join (two broadcast dims) feeding an agg + top-20.
      val returned = tbl(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      val orders = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1997-07-01"))
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"))
      val cust = tbl(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_nationkey").as("n_nationkey"))
      val nation = tbl(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      (for {
        j1 <- Join.inner(returned, orders, Join.On(Seq("o_orderkey")))
        j2 <- Join.inner(j1, cust, Join.On(Seq("c_custkey")))
        j3 <- Join.broadcast(j2, nation, Seq("n_nationkey"))
        g <- Group.agg(j3, Seq("c_custkey", "c_name", "c_acctbal", "n_name"),
               Group.Agg(Seq(round(sum(col("rev")), 2).as("revenue"))))
      } yield g).get
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    }),

    "q87_window_funcs" -> ((s, dir) => {
      // the rest of the Wnd surface (lead/rank/sliding frame) — q19/q20
      // cover lag/row_number/running. o_orderkey is unique per custkey,
      // so every frame is engine-deterministic; rank's ties (equal
      // totalprice) are deterministic by definition.
      (for {
        a <- Wnd.lead_(tbl(s, dir, "orders"), "o_totalprice", 1,
               Seq("o_custkey"), Seq("o_orderkey"), as = "next_price")
        b <- Wnd.rank_(a, Seq("o_custkey"), Seq("o_totalprice"), as = "price_rank")
        c <- Wnd.sliding(b, avg(col("o_totalprice")),
               Seq("o_custkey"), Seq("o_orderkey"), -1L, 1L, as = "avg3")
        t <- Transform(c)(_.select(col("o_custkey"), col("o_orderkey"),
               round(col("next_price"), 2).as("next_price"),
               col("price_rank"), round(col("avg3"), 4).as("avg3")))
        o <- Order.by(t, Seq("o_custkey", "o_orderkey"))
      } yield o).get
    }),

    "q88_interval_overlap" -> ((s, dir) => {
      // RangeJoin.intervalOverlap (q59 covers pointInInterval): synthetic
      // numeric intervals over keys, bucketed equi-join instead of a BNLJ.
      val o = tbl(s, dir, "orders").filter(col("o_orderkey") < 200)
        .select(col("o_orderkey").as("lkey"),
          col("o_custkey").cast("double").as("lo"),
          (col("o_custkey") + 10).cast("double").as("hi"))
      val c = tbl(s, dir, "customer").filter(col("c_custkey") < 300)
        .select(col("c_custkey").as("rkey"),
          (col("c_custkey") - 5).cast("double").as("rlo"),
          (col("c_custkey") + 5).cast("double").as("rhi"))
      graft.operators.RangeJoin.intervalOverlap(o, c, "lo", "hi", "rlo", "rhi",
        binSize = 16.0, leftKey = "lkey", rightKey = "rkey").get
        .select("lkey", "rkey").orderBy("lkey", "rkey")
    }),

    "q89_quality_violations" -> ((s, dir) => {
      // Quality.violations quarantine stream (q78 covers expect counts):
      // rows failing ANY rule, tagged with the failed rule names.
      val rules = Seq(
        graft.operators.Quality.Expectation("discount_max", col("l_discount") <= 0.08),
        graft.operators.Quality.Expectation("qty_in_range", col("l_quantity").between(1, 45)))
      graft.operators.Quality.violations(
        tbl(s, dir, "lineitem").filter(col("l_orderkey") < 2000), rules).get
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 4).as("l_quantity"),
          round(col("l_discount"), 4).as("l_discount"),
          array_join(col("failed_rules"), ",").as("failed"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "failed")
    }),

    "q90_url_domains" -> ((s, dir) => {
      // web-corpus provenance: extract URLs (documents are augmented with
      // synthetic links, like q79 does for PII), count docs per domain —
      // the source-mix report behind corpus curation decisions.
      val aug = tbl(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" via https://src"), pmod(col("doc_id"), lit(7)),
          lit(".example.org/doc/"), col("doc_id"),
          lit(" and http://mirror"), pmod(col("doc_id"), lit(3)),
          lit(".example.net/raw?")).as("a"))
      aug.select(col("doc_id"), explode(TextFunctions.urls(col("a"))).as("url"))
        .select(col("doc_id"), TextFunctions.urlDomain(col("url")).as("domain"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("domain")
    }),

    "q84_repetition" -> ((s, dir) => {
      // Gopher/C4-style in-document repetition signals: repeated words
      // and repeated 3-gram phrases, as pure column expressions.
      tbl(s, dir, "documents").select(col("doc_id"),
          TextFunctions.dupWordFraction(col("text")).as("dup_word_frac"),
          TextFunctions.dupNgramFraction(col("text"), 3).as("dup_3gram_frac"))
        .orderBy("doc_id")
    }),

    "q85_contamination" -> ((s, dir) => {
      // Eval decontamination sweep: docs 0-19 act as the benchmark; the
      // rest of the corpus is flagged on any shared 8-gram (benchmark
      // shingles broadcast — the corpus is never shuffled).
      val docs = tbl(s, dir, "documents")
      Dedup.contaminationFlags(
        docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20),
        "text", "doc_id", n = 8).get
        .orderBy("doc_id")
    }),

    "q83_split" -> ((s, dir) => {
      // Content-stable train/val/test split: labels are a pure function
      // of doc_id + seed. The gate checks the deterministic invariants
      // the oracle can emit as constants — total count, full label set,
      // train share inside its tolerance band (exact per-split counts
      // are hash-dependent and differ per scale factor, so they cannot
      // be oracle constants; SamplingSpec locks the stability contract).
      val split = graft.operators.Sampling.splitByHash(
        tbl(s, dir, "documents"), Seq("doc_id"), Seq(0.8, 0.1, 0.1)).get
      split.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("split")).as("n_labels"),
          (count(when(col("split") === "train", 1)).cast("double") / count(lit(1)))
            .between(0.7, 0.9).as("train_share_ok"))
    }),

    "q82_json" -> ((s, dir) => {
      // Semi-structured extraction: parse the JSON props column with an
      // explicit schema (from_json — codegen'd, no UDF; schema-on-read
      // exactly as a 100 TB event lake demands) and aggregate on the
      // extracted field.
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val schema = StructType(Seq(StructField("k", IntegerType)))
      events(s, dir)
        .withColumn("props_k", from_json(col("props"), schema).getField("k"))
        .groupBy(col("event_type"))
        .agg(count(col("props_k")).as("n_parsed"),
          sum(col("props_k")).as("sum_k"),
          min(col("props_k")).as("min_k"),
          max(col("props_k")).as("max_k"))
        .orderBy("event_type")
    }),

    "q81_hll" -> ((s, dir) => {
      // Mergeable HLL distinct sketches: per-day sketches unioned per
      // event type. The gate asserts the estimate lands within 5% of
      // exact (HLL is deterministic, and at this cardinality the sketch
      // is still in its exact sparse mode) — the oracle emits `true`.
      val ev = events(s, dir).withColumn("day", to_date(col("ts")))
      val daily = Sketch.hllSketches(ev, Seq("event_type", "day"), "user_id").get
      val est = Sketch.hllMergeEstimate(daily, Seq("event_type")).get
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_distinct_approx") - col("n_exact")) <=
            col("n_exact") * 0.05).as("within_5pct"))
        .orderBy("event_type")
    }),

    "q80_shard" -> ((s, dir) => {
      // Deterministic token-budget sharding (per-language, so no global
      // window), summarized per shard.
      graft.operators.Sampling.shardByTokenBudget(
        tbl(s, dir, "documents"), orderCol = "doc_id", tokenCountCol = "n_chars",
        budget = 50000L, keys = Seq("lang")).get
        .groupBy("lang", "shard_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
        .orderBy("lang", "shard_id")
    }),

    // --- data quality -------------------------------------------------------

    "q77_profile" -> ((s, dir) => {
      // One-pass column profile (all statistics in a single df.agg).
      graft.operators.Quality.profile(tbl(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")).get
        .orderBy("column")
    }),

    "q78_expect" -> ((s, dir) => {
      // Declarative expectations, one aggregation pass for all rules.
      import graft.operators.Quality
      Quality.expect(tbl(s, dir, "lineitem"), Seq(
        Quality.Expectation("qty_in_range", col("l_quantity").between(1, 50)),
        Quality.Expectation("discount_max", col("l_discount") <= 0.08),
        Quality.Expectation("price_positive", col("l_extendedprice") > 0),
        Quality.Expectation("flag_known", col("l_returnflag").isin("A", "N", "R")))).get
        .orderBy("rule")
    }),

    "q79_redact" -> ((s, dir) => {
      // PII scrub: per-row synthetic email+phone appended (the raw corpus
      // contains none), then redacted and counted — byte-identical
      // regexes run on the DuckDB side.
      val aug = tbl(s, dir, "documents").withColumn("aug",
        concat(col("text"), lit(" reach me at user"), col("doc_id"),
          lit("@example.com or +1 555-000-"),
          lpad(col("doc_id").cast("string"), 4, "0")))
      aug.select(col("doc_id"),
          TextFunctions.piiCount(col("aug")).cast("long").as("n_pii"),
          TextFunctions.redactPII(col("aug")).as("redacted"))
        .orderBy("doc_id")
    }),

    "q76_tfidf" -> ((s, dir) => {
      // Sparse TF-IDF cosine pairs (postings equi-join, no cross join).
      // 0.95 sits in a wide empirical gap of the pair-cosine distribution
      // at the gate scales, so float summation-order noise cannot flip
      // membership.
      graft.operators.TfIdf.similarPairs(
        tbl(s, dir, "documents"), "text", "doc_id", threshold = 0.95).get
        .orderBy("idA", "idB")
    }),

    "q94_paragraph_dedup" -> ((s, dir) => {
      // Paragraph-level exact dedup (Lee et al.): docs are synthesized
      // into three paragraphs — a shared header (doc_id%3), the doc's own
      // text prefix, a shared footer (doc_id%7) — so cross-document
      // paragraph duplication is dense and deterministic. Keep-first by
      // (doc_id, pos); every doc is rebuilt from its surviving paragraphs.
      val aug = tbl(s, dir, "documents").select(col("doc_id"),
        concat(lit("head "), pmod(col("doc_id"), lit(3)), lit("\n\n"),
          substring(col("text"), 1, 90), lit("\n\n"),
          lit("footer "), pmod(col("doc_id"), lit(7))).as("text"))
      graft.operators.Segments.segmentDedup(aug, "text", "doc_id").get
        .select(col("doc_id"), col("text").as("text_dedup"),
          col("n_segments"), col("n_kept"))
        .orderBy("doc_id")
    }),

    "q95_boilerplate" -> ((s, dir) => {
      // CCNet-style boilerplate line removal: every doc carries a cookie
      // banner (500 docs) and one of five nav lines (~100 docs each);
      // lines in >= 50 distinct docs are detected and stripped, unique
      // content lines survive in order.
      val aug = tbl(s, dir, "documents").select(col("doc_id"),
        concat(substring(col("text"), 1, 60), lit("\n"),
          lit("accept cookies to continue"), lit("\n"),
          substring(col("text"), 61, 60), lit("\n"),
          lit("nav menu "), pmod(col("doc_id"), lit(5))).as("text"))
      graft.operators.Segments.stripBoilerplate(
          aug, "text", "doc_id", minDocs = 50L).get
        .select(col("doc_id"), col("text").as("text_clean"),
          col("n_segments"), col("n_kept"), col("n_removed"))
        .orderBy("doc_id")
    }),

    "q96_lm_score" -> ((s, dir) => {
      // Self-trained add-1 n-gram LM quality scores (CCNet's perplexity
      // signal without an external model): unigram + bigram mean token
      // log-probability per document, perplexity from the unigram score.
      val docs = tbl(s, dir, "documents")
      val uni = graft.operators.LmScore.unigramScores(docs, "text", "doc_id").get
      val bi = graft.operators.LmScore.bigramScores(docs, "text", "doc_id").get
      uni.join(bi.select(col("doc_id"), col("avg_logprob").as("__blp")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_logprob"), 6).as("avg_lp_uni"),
          round(col("perplexity"), 4).as("ppl_uni"),
          round(col("__blp"), 6).as("avg_lp_bi"))
        .orderBy("doc_id")
    }),

    "q97_sq_encode" -> ((s, dir) => {
      // Int8 scalar quantization round-trip: the oracle recomputes every
      // code and the reconstruction error with the same IEEE double ops,
      // so code_sum pins all 64 codes per vector exactly.
      val emb = tbl(s, dir, "embeddings")
      val enc = graft.operators.Quantize.sqEncode(emb, "embedding", "vec_id").get
      enc.join(emb, "vec_id")
        .withColumn("__dec",
          graft.operators.Quantize.sqDecode(col("codes"), col("vmin"), col("vmax")))
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L),
            (a, c) => a + c.cast("long") + lit(128L)).as("code_sum"),
          round(col("vmin"), 6).as("vmin_r"),
          round(col("vmax"), 6).as("vmax_r"),
          round(array_max(zip_with(col("embedding").cast("array<double>"),
            col("__dec"), (x, d) => abs(x - d))), 7).as("max_err"))
        .orderBy("vec_id")
    }),

    "q98_sq_knn" -> ((s, dir) => {
      // Quantized-shortlist kNN with exact rerank. The gate runs with an
      // exhaustive shortlist (mirrors q40's exhaustive-probe pattern), so
      // the full encode -> decode -> approx-score -> rerank path must
      // reproduce exact brute-force top-k; recall at production shortlist
      // sizes is locked by QuantizeSpec.
      val emb = tbl(s, dir, "embeddings")
      graft.operators.Quantize.sqKnn(emb, emb.filter(col("vec_id") < 10),
          "embedding", "vec_id", k = 5, shortlistK = 1 << 20).get
        .orderBy("queryId", "rank")
    }),

    "q99_mix_sources" -> ((s, dir) => {
      // Epoch-weighted dataset mixing: src0 oversampled 2.5x, src1 kept
      // at 0.25, src2 dropped, everything else 1.0. The fractional-epoch
      // keep decision is a portable md5 hash of (doc_id, epoch), so the
      // oracle reproduces the mixture row-for-row.
      graft.operators.Sampling.mixBySource(
          tbl(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id",
          weights = Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0)).get
        .select(col("doc_id"), col("epoch"), col("source"))
        .orderBy("doc_id", "epoch")
    }),

    "q101_dedup_incremental" -> ((s, dir) => {
      // Incremental-ingest dedup: docs >= 250 are "today's batch", docs
      // < 250 the historical reference. Banding recall at the emitted
      // Jaccard range is effectively 1 (same argument as q34), so the
      // exact cross shingle-Jaccard oracle reproduces the pair set.
      val docs = tbl(s, dir, "documents")
      graft.operators.Dedup.minhashPairsAgainst(
          docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
          "text", "doc_id", shingleSize = 3, bands = 16, rowsPerBand = 4,
          threshold = 0.5).get
        .orderBy("idNew", "idRef")
    }),

    "q100_shuffle_key" -> ((s, dir) => {
      // Deterministic corpus shuffle: portable md5 order key (range-
      // partition + local sort at scale — never a global row_number).
      graft.operators.Sampling.shuffleKey(
          tbl(s, dir, "documents").select(col("doc_id")),
          Seq("doc_id"), seed = "run1").get
        .orderBy("shuffle_key", "doc_id")
    }),

    "q112_term_drift" -> ((s, dir) => {
      // Corpus-version drift monitor: even vs odd doc_id halves, top-30
      // terms by JS-divergence contribution (rounded pre-rank so the
      // top-K set is engine-stable).
      val docs = tbl(s, dir, "documents")
      graft.operators.Quality.termDrift(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          "text", topK = 30).get
        .orderBy(col("js_contrib").desc, col("term"))
    }),

    "q113_semantic_dedup" -> ((s, dir) => {
      // SemDeDup over the synthetic embeddings: portable md5-hyperplane
      // codebook (8 cells), greedy keep-lowest-id within a cell at
      // cosine ≥ 0.25 (corpus max pairwise cosine ≈0.48 — same rationale
      // as q37). Uncapped cells for oracle parity; the k-means-codebook
      // variant (semanticDedupAssigned) stays covered by DedupSpec.
      Dedup.semanticDedup(tbl(s, dir, "embeddings"), "embedding", "vec_id",
        nClusters = 8, threshold = 0.25, maxCluster = Int.MaxValue)
        .get.orderBy("vec_id")
    }),

    "q114_dsir" -> ((s, dir) => {
      // DSIR importance weights: every 10th doc is the "target" domain,
      // the rest are the raw pool. Unigram+bigram buckets under the
      // portable md5 hash, add-0.5 smoothing over 4096 dense buckets —
      // the oracle replays every weight exactly.
      val docs = tbl(s, dir, "documents")
      graft.operators.Dsir.logWeights(
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          "text", "doc_id", nBuckets = 4096, alpha = 0.5).get
        .select(col("doc_id"), col("n_grams"),
          round(col("log_weight"), 6).as("log_weight"))
        .orderBy("doc_id")
    }),

    "q120_dsir_threshold" -> ((s, dir) => {
      // DSIR threshold selection — the scale path: a map-side weight
      // filter instead of rank-based top-k. The pinned cutoff (-18.3)
      // sits inside a 0.6-wide gap of the sf0.01 weight distribution,
      // so last-ulp summation differences cannot flip membership; the
      // oracle replays weights AND filter exactly.
      val docs = tbl(s, dir, "documents")
      val w = graft.operators.Dsir.logWeights(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "text", "doc_id", nBuckets = 4096, alpha = 0.5).get
      graft.operators.Dsir.selectByThreshold(w, cutoff = -18.3).get
        .select(col("doc_id"), col("n_grams"),
          round(col("log_weight"), 6).as("log_weight"))
        .orderBy("doc_id")
    }),

    "q121_media_decode" -> ((s, dir) => {
      // REAL codec round-trip, JDK-only: planted (w, h, gray, rate, n,
      // amp) per doc → true PNG/WAV bytes (MediaSynth, ImageIO/
      // AudioSystem encoders) → JdkMediaDecoder recovers them by ACTUAL
      // decode. The oracle recomputes the planted values by arithmetic —
      // constant fills make mean_intensity == gray and rms == amp/32768
      // exactly, so a decoder that misreads even one pixel fails the
      // gate. (The synthesis UDF is test-fixture plumbing; the graded
      // operator is the mapPartitions decode.)
      val png = udf((w: Int, h: Int, g: Int) =>
        Multimodal.MediaSynth.pngBytes(w, h, g))
      val wav = udf((r: Int, n: Int, a: Int) =>
        Multimodal.MediaSynth.wavBytes(r, n, a))
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("img", png(
          (lit(8) + pmod(col("doc_id"), lit(16))).cast("int"),
          (lit(5) + pmod(col("doc_id"), lit(7))).cast("int"),
          pmod(col("doc_id"), lit(256)).cast("int")))
        .withColumn("aud", wav(
          (lit(8000) + pmod(col("doc_id"), lit(4)) * 4000).cast("int"),
          (lit(50) + pmod(col("doc_id"), lit(100))).cast("int"),
          (lit(100) + pmod(col("doc_id"), lit(300)) * 100).cast("int")))
      (for {
        i <- Multimodal.decodeImage(base, "img",
               decoder = Multimodal.JdkMediaDecoder)
        a <- Multimodal.decodeAudio(i, "aud",
               decoder = Multimodal.JdkMediaDecoder)
      } yield a.select(
        col("doc_id"),
        col("image_meta.width").as("width"),
        col("image_meta.height").as("height"),
        col("image_meta.channels").as("channels"),
        col("image_meta.format").as("format"),
        col("image_meta.mean_intensity").as("mean_intensity"),
        col("audio_meta.sample_rate").as("sample_rate"),
        col("audio_meta.n_samples").as("n_samples"),
        round(col("audio_meta.duration_sec"), 6).as("duration_sec"),
        round(col("audio_meta.rms_energy"), 6).as("rms_energy"))
        .orderBy("doc_id")).get
    }),

    "q122_media_resize" -> ((s, dir) => {
      // REAL pixel resize: planted constant-fill PNGs → bilinear
      // aspect-preserving scale into a 32×32 box → re-encode → decode
      // the OUTPUT bytes. Bilinear interpolation of a constant image is
      // that constant, so mean_intensity must survive the resize
      // exactly; the oracle replays the scale arithmetic in the same
      // floating-point operation order (least of the two ratios, then
      // one multiply, then round).
      val png = udf((w: Int, h: Int, g: Int) =>
        Multimodal.MediaSynth.pngBytes(w, h, g))
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("img", png(
          (lit(20) + pmod(col("doc_id"), lit(80))).cast("int"),
          (lit(10) + pmod(col("doc_id"), lit(60))).cast("int"),
          pmod(col("doc_id"), lit(256)).cast("int")))
      (for {
        r <- Multimodal.resizeImage(base, "img", maxW = 32, maxH = 32)
        d <- Multimodal.decodeImage(r, "resized", metaCol = "rmeta",
               decoder = Multimodal.JdkMediaDecoder)
      } yield d.select(
        col("doc_id"),
        col("rmeta.width").as("rwidth"),
        col("rmeta.height").as("rheight"),
        col("rmeta.channels").as("channels"),
        col("rmeta.format").as("format"),
        col("rmeta.mean_intensity").as("mean_intensity"))
        .orderBy("doc_id")).get
    }),

    "q139_encoding_anomalies" -> ((s, dir) => {
      // Mojibake / decode-failure sweep over synthesized corruption:
      // every 3rd doc gets UTF-8-as-Latin1 digraphs, every 5th a U+FFFD
      // replacement char, every 7th a C0 control byte — the oracle
      // counts the same RE2-safe patterns.
      val corrupted = concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(" cafÃ© â€™quoteâ€™ Â°C"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(" bad�byte�"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0, lit(" c\u0001tl")).otherwise(lit("")))
      tbl(s, dir, "documents")
        .select(col("doc_id"), corrupted.as("t"))
        .select(col("doc_id"),
          TextFunctions.replacementCharCount(col("t")).as("n_replacement"),
          TextFunctions.mojibakeCount(col("t")).as("n_mojibake"),
          TextFunctions.controlCharCount(col("t")).as("n_control"),
          TextFunctions.encodingSuspect(col("t")).as("suspect"))
        .orderBy("doc_id")
    }),

    "q140_dedup_keep_best" -> ((s, dir) => {
      // Keep-best exact dedup: synthetic duplicate groups (doc_id % 97
      // shared key), the longest text (n_chars priority) survives each
      // group with min-id tiebreak — the keep rule replayed as a window
      // by the oracle.
      val d = tbl(s, dir, "documents")
        .withColumn("dup_key", pmod(col("doc_id"), lit(97)))
      graft.operators.Dedup.exactKeepBest(
          d, Seq("dup_key"), "doc_id", priorityCol = "n_chars").get
        .select("dup_key", "doc_id", "n_chars", "lang")
        .orderBy("dup_key", "doc_id")
    }),

    "q141_unicode_normalize" -> ((s, dir) => {
      // NFC normalization over planted decomposed sequences: every 2nd
      // doc gets "e"+U+0301 (composes to é), every 3rd "A"+U+030A
      // (composes to Å), every 5th an ALREADY-precomposed " déjà"
      // (NFC-stable). Both engines build the identical raw string and
      // normalize it — the result strings, code-point lengths, and the
      // changed flag must agree exactly.
      val raw = concat(col("text"),
        // decomposed: e + U+0301 combining acute
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit(" cafe\u0301")).otherwise(lit("")),
        // decomposed: A + U+030A ring, o + U+0308 diaeresis
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit(" A\u030Angstro\u0308m")).otherwise(lit("")),
        // precomposed U+00E9 / U+00E0 — already NFC, must pass unchanged
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit(" d\u00e9j\u00e0")).otherwise(lit("")))
      tbl(s, dir, "documents")
        .select(col("doc_id"), raw.as("t"))
        .select(col("doc_id"),
          TextFunctions.unicodeNormalize(col("t"), "NFC").as("nfc"),
          length(col("t")).as("len_raw"),
          length(TextFunctions.unicodeNormalize(col("t"), "NFC")).as("len_nfc"),
          (TextFunctions.unicodeNormalize(col("t"), "NFC") =!= col("t")).as("changed"))
        .orderBy("doc_id")
    }),

    "q142_domain_blocklist" -> ((s, dir) => {
      // Parent-domain blocklist filter: synthesized 4-label hosts, a
      // blocklist mixing a registrable domain (blocks every subdomain),
      // a full-host exact entry, a mid-level suffix, and a never-
      // matching entry — the oracle replays suffix matching with
      // `dom = b OR dom LIKE '%.' || b`.
      import s.implicits._
      val d = tbl(s, dir, "documents")
        .withColumn("url", concat(lit("http://w"), pmod(col("doc_id"), lit(4)),
          lit(".s"), pmod(col("doc_id"), lit(5)),
          lit(".example"), pmod(col("doc_id"), lit(3)),
          lit(".com/p"), col("doc_id")))
      val bl = Seq("example0.com", "w1.s2.example1.com", "s3.example2.com", "other.net")
        .toDF("domain")
      graft.operators.Quality.filterByDomainBlocklist(d, "url", "doc_id", bl).get
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    "q143_frequent_ngrams" -> ((s, dir) => {
      // Corpus-wide frequent trigram report on the raw corpus (the
      // sentence-pool synthesis repeats phrases naturally): top-50 by
      // occurrence count with distinct-doc counts, total (count desc,
      // ngram) order — the oracle rebuilds the n-grams with a list
      // comprehension over the same explicit-class tokenizer.
      graft.operators.Quality.frequentNgrams(
          tbl(s, dir, "documents"), "text", "doc_id",
          n = 3, topK = 50, minCount = 2L).get
    }),

    "q252_contamination" -> ((s, dir) => {
      // Decontamination screen: even-id docs as the corpus, odd-id
      // docs as the "benchmark" — the sentence-pool synthesis shares
      // 5-grams across the split, so the screen genuinely fires. All
      // counts exact; the ratio rounded under the tie-shift.
      val docs = tbl(s, dir, "documents")
      graft.operators.Dedup.contaminationScreen(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "text", "doc_id", n = 5).get
        .select(col("doc_id"), col("n_grams"), col("n_hit_grams"),
          col("n_bench_docs"),
          round(col("contamination") + lit(1e-9), 6).as("contamination"))
        .orderBy("doc_id")
    }),

    "q148_histogram" -> ((s, dir) => {
      // Fixed-bin histogram of n_chars (20 bins over [0, 600)): every
      // bin present including empty ones, IEEE floor/clamp assignment
      // replayed bit-for-bit by the oracle.
      graft.operators.Quality.histogram(
          tbl(s, dir, "documents"), "n_chars", nBins = 20, lo = 0.0, hi = 600.0).get
        .orderBy("bin")
    }),

    "q149_profile_by" -> ((s, dir) => {
      // Grouped profile: per-(lang, column) stats in ONE aggregation
      // pass — the per-source quality dashboard.
      graft.operators.Quality.profileBy(
          tbl(s, dir, "documents"), Seq("lang"), Seq("n_chars", "source")).get
        .orderBy("lang", "column")
    }),

    "q150_histogram_psi" -> ((s, dir) => {
      // PSI drift between even-id docs (reference) and odd-id docs with
      // a planted deterministic shift (current): per-bin p/q/contrib and
      // the total, ε-floored — all replayed by the oracle's arithmetic.
      val d = tbl(s, dir, "documents")
      val ref = d.filter(pmod(col("doc_id"), lit(2)) === 0)
      val cur = d.filter(pmod(col("doc_id"), lit(2)) === 1)
        .withColumn("n_chars", col("n_chars") + pmod(col("doc_id"), lit(7)) * lit(50))
      graft.operators.Quality.histogramPsi(ref, cur, "n_chars",
          nBins = 10, lo = 0.0, hi = 800.0).get
        .orderBy("bin")
    }),

    "q151_image_dhash" -> ((s, dir) => {
      // REAL perceptual hash on real codec bytes: planted 9×8 gray
      // gradient PNGs (pixel = (base + sx·x + sy·y) mod 256, lossless) →
      // JDK decode → dHash. At the 9×8 sampling grid the align-centers
      // bilinear is exact identity, so every one of the 64 bits is pure
      // modular arithmetic the oracle replays; emitted as two unsigned
      // 32-bit halves to keep the SQL in signed-BIGINT range.
      val png = udf((b: Int, sx: Int, sy: Int) =>
        Multimodal.MediaSynth.gradientPngBytes(9, 8, b, sx, sy))
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("img", png(
          pmod(col("doc_id"), lit(256)).cast("int"),
          (lit(20) + pmod(col("doc_id"), lit(40))).cast("int"),
          (lit(3) + pmod(col("doc_id"), lit(11))).cast("int")))
      Multimodal.imageDHash(base, "img").get
        .select(col("doc_id"),
          shiftrightunsigned(col("dhash"), 32).as("hash_hi"),
          col("dhash").bitwiseAND(lit(0xffffffffL)).as("hash_lo"))
        .orderBy("doc_id")
    }),

    "q152_image_neardup" -> ((s, dir) => {
      // LAION-style image dedup: docs j and j+250 are planted siblings
      // (odd twins get sx+1 — a one-step gradient change that flips only
      // the wrap bits). dHash → banded Hamming pigeonhole (7 bands over
      // 64 bits, uncapped buckets for oracle parity) → verified pairs ==
      // ALL pairs with hamming <= 6, which the oracle brute-forces from
      // the planted arithmetic.
      val png = udf((b: Int, sx: Int, sy: Int) =>
        Multimodal.MediaSynth.gradientPngBytes(9, 8, b, sx, sy))
      val j = pmod(col("doc_id"), lit(250))
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("img", png(
          pmod(j * 37, lit(256)).cast("int"),
          (lit(20) + pmod(j, lit(40)) +
            when(col("doc_id") >= 250, pmod(col("doc_id"), lit(2)))
              .otherwise(lit(0))).cast("int"),
          (lit(3) + pmod(j, lit(11))).cast("int")))
      Multimodal.imageNearDupPairs(base, "img", "doc_id",
          maxHamming = 6, maxBucket = Int.MaxValue).get
        .orderBy("idA", "idB")
    }),

    "q158_image_dedup" -> ((s, dir) => {
      // Exact perceptual-clone dedup over the q152 sibling corpus at
      // maxHamming = 0: one 64-bit band ⇒ pure hash-equality clusters,
      // keep the min doc_id per cluster — the oracle groups the replayed
      // hashes and keeps each group's minimum.
      val png = udf((b: Int, sx: Int, sy: Int) =>
        Multimodal.MediaSynth.gradientPngBytes(9, 8, b, sx, sy))
      val j = pmod(col("doc_id"), lit(250))
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("img", png(
          pmod(j * 37, lit(256)).cast("int"),
          (lit(20) + pmod(j, lit(40)) +
            when(col("doc_id") >= 250, pmod(col("doc_id"), lit(2)))
              .otherwise(lit(0))).cast("int"),
          (lit(3) + pmod(j, lit(11))).cast("int")))
      Multimodal.imageDedup(base, "img", "doc_id",
          maxHamming = 0, maxBucket = Int.MaxValue).get
        .select("doc_id")
        .orderBy("doc_id")
    }),

    "q159_audio_dedup" -> ((s, dir) => {
      // Exact fingerprint dedup over the q154 sibling corpus: minMatches
      // = 4 of 4 frames ⇒ clusters are fingerprint-equality groups (even
      // twins collapse, odd twins differ on frame 0 and survive) — the
      // oracle groups the replayed bin sequences and keeps each group's
      // minimum id. bandWidth = 2 stays pigeonhole-complete (0
      // mismatched frames < 2 bands).
      val wav = udf((id: Long) => {
        val j = id % 250
        val cs = Array.tabulate(4)(f => (3 + (j * 7 + f * 11) % 97).toInt)
        if (id >= 250 && id % 2 == 1) cs(0) += 1
        Multimodal.MediaSynth.frameSineWavBytes(8000, 256, cs.toSeq, 12000)
      })
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("aud", wav(col("doc_id")))
      Multimodal.audioDedup(base, "aud", "doc_id",
          nFft = 256, minMatches = 4, maxBucket = Int.MaxValue,
          bandWidth = 2).get
        .select("doc_id")
        .orderBy("doc_id")
    }),

    "q160_video_neardup" -> ((s, dir) => {
      // Video dedup over frame-hash sequences: clips are 4-frame GFV1
      // containers of planted 9×8 gradient PNGs (lossless — every
      // frame's dHash replays as the q152 modular arithmetic). Docs j
      // and j+250 are siblings; odd twins get frame 0's sx+1 (a frame-
      // level mismatch). Fingerprint → banded candidates → pairs with
      // >= 3 of 4 aligned frames agreeing; the oracle brute-forces the
      // per-frame hash equality join. bandWidth = 2 stays pigeonhole-
      // complete (<= 1 mismatched frame breaks at most 1 of 2 bands).
      val clip = udf((id: Long) => {
        val j = id % 250
        Multimodal.MediaSynth.framesContainer((0 until 4).map { f =>
          val sx = 20 + j % 40 + (if (id >= 250 && id % 2 == 1 && f == 0) 1 else 0)
          Multimodal.MediaSynth.gradientPngBytes(9, 8,
            ((j * 37 + f * 13) % 256).toInt, sx.toInt, (3 + (j + f) % 11).toInt)
        })
      })
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("vid", clip(col("doc_id")))
      Multimodal.videoNearDupPairs(base, "vid", "doc_id",
          minMatches = 3, maxBucket = Int.MaxValue, bandWidth = 2).get
        .orderBy("idA", "idB")
    }),

    "q161_video_dedup" -> ((s, dir) => {
      // Transitive video dedup over the q160 corpus at minMatches = 4
      // (= frame count): clusters are fingerprint-equality groups (even
      // twins collapse, odd twins differ on frame 0 and survive) — the
      // oracle groups the replayed per-frame hash sequences and keeps
      // each group's minimum id.
      val clip = udf((id: Long) => {
        val j = id % 250
        Multimodal.MediaSynth.framesContainer((0 until 4).map { f =>
          val sx = 20 + j % 40 + (if (id >= 250 && id % 2 == 1 && f == 0) 1 else 0)
          Multimodal.MediaSynth.gradientPngBytes(9, 8,
            ((j * 37 + f * 13) % 256).toInt, sx.toInt, (3 + (j + f) % 11).toInt)
        })
      })
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("vid", clip(col("doc_id")))
      Multimodal.videoDedup(base, "vid", "doc_id",
          minMatches = 4, maxBucket = Int.MaxValue, bandWidth = 2).get
        .select("doc_id")
        .orderBy("doc_id")
    }),

    "q162_image_cap_report" -> ((s, dir) => {
      // Cap observability for the image dHash banding (the round-5
      // verdict's "silent cap" gap): the q152 sibling corpus at a
      // deliberately tight maxBucket — every occupancy counter replays
      // from the planted hash arithmetic, so the recall the cap would
      // cost is a queryable number, not a silent loss.
      val png = udf((b: Int, sx: Int, sy: Int) =>
        Multimodal.MediaSynth.gradientPngBytes(9, 8, b, sx, sy))
      val j = pmod(col("doc_id"), lit(250))
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("img", png(
          pmod(j * 37, lit(256)).cast("int"),
          (lit(20) + pmod(j, lit(40)) +
            when(col("doc_id") >= 250, pmod(col("doc_id"), lit(2)))
              .otherwise(lit(0))).cast("int"),
          (lit(3) + pmod(j, lit(11))).cast("int")))
      Multimodal.imageCapReport(base, "img", "doc_id",
          maxHamming = 6, maxBucket = 3).get
        .orderBy("n_buckets")
    }),

    "q163_video_cap_report" -> ((s, dir) => {
      // Cap observability for the video frame-hash banding: the q160
      // corpus at maxBucket = 1, so every sibling-shared band bucket
      // counts as dropped — the oracle replays band keys as grouped
      // per-frame hash strings (bucket identity, not bucket hash,
      // drives every counter).
      val clip = udf((id: Long) => {
        val j = id % 250
        Multimodal.MediaSynth.framesContainer((0 until 4).map { f =>
          val sx = 20 + j % 40 + (if (id >= 250 && id % 2 == 1 && f == 0) 1 else 0)
          Multimodal.MediaSynth.gradientPngBytes(9, 8,
            ((j * 37 + f * 13) % 256).toInt, sx.toInt, (3 + (j + f) % 11).toInt)
        })
      })
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("vid", clip(col("doc_id")))
      Multimodal.videoCapReport(base, "vid", "doc_id",
          maxBucket = 1, bandWidth = 2).get
        .orderBy("n_buckets")
    }),

    "q164_image_dedup_against" -> ((s, dir) => {
      // Incremental image dedup — the production ingest shape: batch
      // (doc_id >= 250) deduped AGAINST the reference corpus (doc_id <
      // 250). Every 5th batch image is novel (sx shifted 9 gradient
      // steps AND sy shifted 13 — far enough that ~half the novels clear
      // Hamming 6 from every reference, so the kept set is non-trivial
      // in BOTH directions: some novels kept, some still collide); the
      // rest are q152-style twins of their reference sibling. Kept =
      // batch images with no reference hash within Hamming 6 — the
      // oracle brute-forces the cross-corpus join.
      val png = udf((id: Long) => {
        val j = id % 250
        val sx = 20 + j % 40 +
          (if (id >= 250) { if (id % 5 == 0) 9 else id % 2 } else 0)
        val sy = 3 + j % 11 + (if (id >= 250 && id % 5 == 0) 13 else 0)
        Multimodal.MediaSynth.gradientPngBytes(9, 8,
          ((j * 37) % 256).toInt, sx.toInt, sy.toInt)
      })
      val all = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("img", png(col("doc_id")))
      val batch = all.filter(col("doc_id") >= 250)
      val reference = all.filter(col("doc_id") < 250)
      Multimodal.imageDedupAgainst(batch, reference, "img", "doc_id",
          maxHamming = 6, maxBucket = Int.MaxValue).get
        .select("doc_id")
        .orderBy("doc_id")
    }),

    "q165_audio_dedup_against" -> ((s, dir) => {
      // Incremental audio dedup: batch clips (doc_id >= 250) against the
      // reference corpus (doc_id < 250). Every 5th batch clip is novel:
      // its bins land in [100, 127], DISJOINT from the [3, 99] range the
      // reference corpus occupies (and under the 128-bin Nyquist limit
      // of the 256-sample FFT), so every novel clip must survive — a
      // non-trivial kept set the gate can discriminate on (the round-7
      // +50 mod 97 shift mapped every novel clip back onto a reference
      // fingerprint, asserting an empty kept set). The rest are
      // q154-style twins. Kept = batch clips with < 3 of 4 frames
      // agreeing with every reference clip.
      val wav = udf((id: Long) => {
        val j = id % 250
        val cs = Array.tabulate(4) { f =>
          val b = 3 + (j * 7 + f * 11) % 97
          if (id >= 250 && id % 5 == 0) (100 + (j * 7 + f * 11) % 28).toInt
          else if (id >= 250 && id % 2 == 1 && f == 0) (b + 1).toInt
          else b.toInt
        }
        Multimodal.MediaSynth.frameSineWavBytes(8000, 256, cs.toSeq, 12000)
      })
      val all = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("aud", wav(col("doc_id")))
      val batch = all.filter(col("doc_id") >= 250)
      val reference = all.filter(col("doc_id") < 250)
      Multimodal.audioDedupAgainst(batch, reference, "aud", "doc_id",
          nFft = 256, minMatches = 3, maxBucket = Int.MaxValue,
          bandWidth = 2).get
        .select("doc_id")
        .orderBy("doc_id")
    }),

    "q166_video_dedup_against" -> ((s, dir) => {
      // Incremental video dedup: the q160 corpus split batch/reference
      // at doc_id 250; every 5th batch clip is novel (all frames' base
      // shifted 101). Kept = batch clips with < 3 of 4 aligned frames
      // agreeing with every reference clip.
      val clip = udf((id: Long) => {
        val j = id % 250
        val novel = id >= 250 && id % 5 == 0
        Multimodal.MediaSynth.framesContainer((0 until 4).map { f =>
          val base = (j * 37 + f * 13 + (if (novel) 101 else 0)) % 256
          val sx = 20 + j % 40 +
            (if (id >= 250 && id % 2 == 1 && f == 0 && !novel) 1 else 0)
          Multimodal.MediaSynth.gradientPngBytes(9, 8,
            base.toInt, sx.toInt, (3 + (j + f) % 11).toInt)
        })
      })
      val all = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("vid", clip(col("doc_id")))
      val batch = all.filter(col("doc_id") >= 250)
      val reference = all.filter(col("doc_id") < 250)
      Multimodal.videoDedupAgainst(batch, reference, "vid", "doc_id",
          minMatches = 3, maxBucket = Int.MaxValue, bandWidth = 2).get
        .select("doc_id")
        .orderBy("doc_id")
    }),

    "q167_image_incr_cap_report" -> ((s, dir) => {
      // Per-side cap observability for q164's cross-corpus banding: the
      // *DedupAgainst family caps each side SEPARATELY, so the report
      // carries one row per side — every counter replays from the
      // planted hash arithmetic at a deliberately tight maxBucket.
      val png = udf((id: Long) => {
        val j = id % 250
        val sx = 20 + j % 40 +
          (if (id >= 250) { if (id % 5 == 0) 9 else id % 2 } else 0)
        val sy = 3 + j % 11 + (if (id >= 250 && id % 5 == 0) 13 else 0)
        Multimodal.MediaSynth.gradientPngBytes(9, 8,
          ((j * 37) % 256).toInt, sx.toInt, sy.toInt)
      })
      val all = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("img", png(col("doc_id")))
      Multimodal.imageIncrementalCapReport(
          all.filter(col("doc_id") >= 250), all.filter(col("doc_id") < 250),
          "img", "doc_id", maxHamming = 6, maxBucket = 3).get
        .orderBy("side")
    }),

    "q168_audio_incr_cap_report" -> ((s, dir) => {
      // Per-side cap observability for q165's cross-corpus banding
      // (bandWidth 2 over the 4-frame dominant-bin sequences, maxBucket
      // 1 so every shared bucket counts as dropped on its side).
      val wav = udf((id: Long) => {
        val j = id % 250
        val cs = Array.tabulate(4) { f =>
          val b = 3 + (j * 7 + f * 11) % 97
          if (id >= 250 && id % 5 == 0) (100 + (j * 7 + f * 11) % 28).toInt
          else if (id >= 250 && id % 2 == 1 && f == 0) (b + 1).toInt
          else b.toInt
        }
        Multimodal.MediaSynth.frameSineWavBytes(8000, 256, cs.toSeq, 12000)
      })
      val all = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("aud", wav(col("doc_id")))
      Multimodal.audioIncrementalCapReport(
          all.filter(col("doc_id") >= 250), all.filter(col("doc_id") < 250),
          "aud", "doc_id", nFft = 256, maxBucket = 1, bandWidth = 2).get
        .orderBy("side")
    }),

    "q169_video_incr_cap_report" -> ((s, dir) => {
      // Per-side cap observability for q166's cross-corpus banding
      // (2-frame band keys over the per-frame dHash sequences).
      val clip = udf((id: Long) => {
        val j = id % 250
        val novel = id >= 250 && id % 5 == 0
        Multimodal.MediaSynth.framesContainer((0 until 4).map { f =>
          val base = (j * 37 + f * 13 + (if (novel) 101 else 0)) % 256
          val sx = 20 + j % 40 +
            (if (id >= 250 && id % 2 == 1 && f == 0 && !novel) 1 else 0)
          Multimodal.MediaSynth.gradientPngBytes(9, 8,
            base.toInt, sx.toInt, (3 + (j + f) % 11).toInt)
        })
      })
      val all = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("vid", clip(col("doc_id")))
      Multimodal.videoIncrementalCapReport(
          all.filter(col("doc_id") >= 250), all.filter(col("doc_id") < 250),
          "vid", "doc_id", maxBucket = 1, bandWidth = 2).get
        .orderBy("side")
    }),

    "q170_retrieval_metrics" -> ((s, dir) => {
      // TREC-style ranked-retrieval eval (nDCG/MRR/P/R @10) on an
      // arithmetic fixture: ranked lists and graded judgments both
      // replay as modular arithmetic, so every discount, gain, and
      // ideal-DCG position is value-exact in the oracle. Some queries
      // hit multiple judged docs, some none — the metrics discriminate.
      val ids = tbl(s, dir, "documents").select(col("doc_id"))
      val results = ids.filter(col("doc_id") < 10)
        .select(col("doc_id").as("queryId"),
          explode(sequence(lit(1L), lit(10L))).as("rank"))
        .select(col("queryId"),
          pmod(col("queryId") * 31 + col("rank") * 7, lit(500)).as("docId"),
          col("rank"))
      val judgments = ids
        .select(col("doc_id").as("docId"),
          explode(sequence(lit(0L), lit(9L))).as("queryId"))
        .filter(pmod(col("docId") * 13 + col("queryId") * 5, lit(7)) === 0)
        .select(col("queryId"), col("docId"),
          (lit(1) + pmod(col("docId"), lit(3))).as("rel"))
      Similarity.retrievalMetrics(results, judgments, k = 10).get
        .orderBy("queryId")
    }),

    "q171_tpch9" -> ((s, dir) => {
      // TPC-H Q9 shape (product-line profit by nation × year): lineitem
      // fans out through three broadcastable dimensions (part filtered by
      // name, supplier, nation) and one fact-fact join (orders). Only
      // lineitem⋈orders shuffles; the part filter prunes before the join.
      // No partsupp table in this schema, so supply cost is modeled as
      // 0.4 × p_retailprice × l_quantity — same join/agg skeleton.
      val part = tbl(s, dir, "part").filter(col("p_name").like("%widget%"))
        .select(col("p_partkey").as("l_partkey"), col("p_retailprice"))
      val supp = tbl(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey").as("n_nationkey"))
      val nation = tbl(s, dir, "nation").select("n_nationkey", "n_name")
      val orders = tbl(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"))
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount")
      // Every money column is exactly 2-decimal, so each profit term is
      // exact at 4 decimals: accumulate in scaled-integer (×10⁴ bigint) —
      // order-independent and bit-identical across engines, where a raw
      // double sum rounds nondeterministically at the cent boundary (same
      // motivation as q109's decimal accumulation).
      val term = col("l_extendedprice") * (lit(1) - col("l_discount")) -
        lit(0.4) * col("p_retailprice") * col("l_quantity")
      (for {
        a <- Join.inner(li, part, Join.On(Seq("l_partkey")))
        b <- Join.inner(a, supp, Join.On(Seq("l_suppkey")))
        c <- Join.inner(b, nation, Join.On(Seq("n_nationkey")))
        d <- Join.inner(c, orders, Join.On(Seq("l_orderkey")))
        g <- Group.agg(
               d.withColumn("o_year", year(col("o_orderdate")).cast("long"))
                .withColumn("__p4", round(term * 10000).cast("long")),
               Seq("n_name", "o_year"),
               Group.Agg(Seq(
                 round(sum(col("__p4")) / 10000.0, 2).as("profit"))))
      } yield g.orderBy(col("n_name"), col("o_year").desc)).get
    }),

    "q172_tpch22" -> ((s, dir) => {
      // TPC-H Q22 shape (global-market opportunity): customers with an
      // above-average positive balance and NO orders, counted per
      // country. The scalar-subquery threshold stays declarative — a
      // 1-row aggregate cross-joined with a broadcast hint, never a
      // driver collect — and NOT EXISTS decorrelates to a left-anti join
      // on the order keys. Balance totals accumulate in scaled-integer
      // (×100 bigint) cents: exact for 2-decimal money and
      // order-independent, so the cent rounding is engine-deterministic.
      val cust = tbl(s, dir, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val thr = cust.filter(col("c_acctbal") > 0.0)
        .agg(avg(col("c_acctbal")).as("__thr"))
      val orderKeys = tbl(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"))
      (for {
        above  <- Filter.where(cust.crossJoin(broadcast(thr)),
                    col("c_acctbal") > col("__thr"))
        noOrd  <- Join.anti(above, orderKeys, Join.On(Seq("c_custkey")))
        g      <- Group.agg(
                    noOrd.withColumn("__c2",
                      round(col("c_acctbal") * 100).cast("long")),
                    Seq("c_nationkey"),
                    Group.Agg(Seq(
                      count(lit(1)).as("numcust"),
                      round(sum(col("__c2")) / 100.0, 2).as("totacctbal"))))
        o      <- Order.by(g, Seq("c_nationkey"))
      } yield o.withColumnRenamed("c_nationkey", "cntrycode")).get
    }),

    "q173_tpch21" -> ((s, dir) => {
      // TPC-H Q21 shape (suppliers who solely delayed multi-supplier
      // orders), DECORRELATED: the reference EXISTS / NOT-EXISTS pair
      // becomes two per-order supplier-cardinality aggregates joined back
      // by order key — a supplier qualifies iff its order has ≥ 2 distinct
      // suppliers and exactly ONE distinct supplier with returnflag 'R'
      // (itself). Equi-joins + partial aggs only; no per-row correlated
      // probe survives to the physical plan, which is the difference
      // between this running at 100 TB and not.
      // Both cardinalities come from ONE distinct-pair aggregation of
      // lineitem — (order, supplier) pairs tagged with "had an R row" —
      // instead of two separate countDistinct passes: one fact scan, one
      // narrow re-aggregation, one semi join.
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
      val fOrders = tbl(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("l_orderkey"))
      val supp = tbl(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      val lr = li.filter(col("l_returnflag") === "R")
      (for {
        pairs <- Group.agg(li, Seq("l_orderkey", "l_suppkey"),
                   Group.Agg(Seq(max(when(col("l_returnflag") === "R", 1)
                     .otherwise(0)).as("__r"))))
        perOrd <- Group.agg(pairs, Seq("l_orderkey"),
                    Group.Agg(Seq(count(lit(1)).as("nsupp"),
                      sum(col("__r")).as("nsupp_r"))))
        good <- Filter.where(perOrd,
                  col("nsupp") >= 2 && col("nsupp_r") === 1)
        a <- Join.inner(lr.select("l_orderkey", "l_suppkey"), fOrders,
               Join.On(Seq("l_orderkey")))
        b <- Join.semi(a, good.select("l_orderkey"), Join.On(Seq("l_orderkey")))
        d <- Join.inner(b, supp, Join.On(Seq("l_suppkey")))
        g <- Group.agg(d, Seq("s_name"),
               Group.Agg(Seq(count(lit(1)).as("numwait"))))
        k <- Order.topK(g, Seq(col("numwait").desc, col("s_name")), 10)
      } yield k).get
    }),

    "q174_tpch8" -> ((s, dir) => {
      // TPC-H Q8 shape (national market share): the 8-table star
      // decomposes into lineitem ⋈ orders (the one fact-fact shuffle) with
      // every dimension — filtered part, supplier→nation(supp), customer→
      // nation→region — broadcast. The market-share ratio is a conditional
      // aggregate over ONE pass (no self-join of the volume CTE); both
      // numerator and denominator accumulate as exact ×10⁴ scaled-integer
      // bigints so the 6-decimal ratio is engine-deterministic.
      val part = tbl(s, dir, "part").filter(col("p_type") === "PROMO")
        .select(col("p_partkey").as("l_partkey"))
      val supp = tbl(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      val suppNat = tbl(s, dir, "nation")
        .select(col("n_nationkey").as("s_nationkey"), col("n_name").as("nation"))
      val custRegion = {
        val reg = tbl(s, dir, "region").filter(col("r_name") === "ASIA")
          .select(col("r_regionkey").as("n_regionkey"))
        val nat = tbl(s, dir, "nation").select("n_nationkey", "n_regionkey")
        tbl(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
            col("c_nationkey").as("n_nationkey"))
          .join(nat, Seq("n_nationkey")).join(reg, Seq("n_regionkey"))
          .select("o_custkey")
      }
      val orders = tbl(s, dir, "orders")
        .filter(col("o_orderdate").between("1996-01-01", "1997-12-31"))
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"),
          col("o_orderdate"))
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_discount")
      val vol4 = round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 10000).cast("long")
      (for {
        a <- Join.inner(li, part, Join.On(Seq("l_partkey")))
        b <- Join.inner(a, supp, Join.On(Seq("l_suppkey")))
        c <- Join.inner(b, suppNat, Join.On(Seq("s_nationkey")))
        d <- Join.inner(c, orders, Join.On(Seq("l_orderkey")))
        e <- Join.semi(d, custRegion.hint("broadcast"),
               Join.On(Seq("o_custkey")))
        g <- Group.agg(
               e.withColumn("o_year", year(col("o_orderdate")).cast("long"))
                .withColumn("__v4", vol4),
               Seq("o_year"),
               Group.Agg(Seq(
                 round(sum(when(col("nation") === "NATION_8", col("__v4"))
                     .otherwise(0L)).cast("double") / sum(col("__v4")), 6)
                   .as("mkt_share"))))
        o <- Order.by(g, Seq("o_year"))
      } yield o).get
    }),

    "q175_tpch13" -> ((s, dir) => {
      // TPC-H Q13 shape (customer order-count distribution): a left OUTER
      // join whose non-key predicate (order priority) lives IN the join
      // condition — customers keep their zero-count row — then two
      // aggregations: count per customer, histogram over those counts.
      // One shuffle per aggregation; the first reuses the join's
      // hash-partitioning on c_custkey, so the o_custkey exchange is the
      // only fact shuffle in the plan.
      val cust = tbl(s, dir, "customer").select("c_custkey")
      val ord = tbl(s, dir, "orders")
        .select("o_custkey", "o_orderkey", "o_orderpriority")
      (for {
        j <- Join.left(cust, ord, Join.With(
               col("c_custkey") === col("o_custkey") &&
               col("o_orderpriority") =!= "1-URGENT"))
        per <- Group.agg(j, Seq("c_custkey"),
                 Group.Agg(Seq(count(col("o_orderkey")).as("c_count"))))
        dist <- Group.agg(per, Seq("c_count"),
                  Group.Agg(Seq(count(lit(1)).as("custdist"))))
        o <- Order.by(dist, Seq("custdist", "c_count"), descending = true)
      } yield o).get
    }),

    "q176_tpch15" -> ((s, dir) => {
      // TPC-H Q15 shape (top supplier): the revenue "view" materializes
      // once as a per-supplier aggregate in exact ×10⁴ scaled-integer
      // bigints; the scalar `max(total_revenue)` is a 1-row aggregate of
      // that frame cross-joined back with a broadcast hint (never a
      // driver collect), and the winner filter is bigint equality — no
      // float-boundary flakiness, deterministic across engines.
      val li = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate").between("1996-01-01", "1996-03-31"))
        .select(col("l_suppkey").as("s_suppkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
            .cast("long").as("__v4"))
      val supp = tbl(s, dir, "supplier").select("s_suppkey", "s_name")
      (for {
        rev <- Group.agg(li, Seq("s_suppkey"),
                 Group.Agg(Seq(sum(col("__v4")).as("__r4"))))
        top <- Filter.where(
                 rev.crossJoin(broadcast(rev.agg(max(col("__r4")).as("__m4")))),
                 col("__r4") === col("__m4"))
        j <- Join.inner(top, supp, Join.On(Seq("s_suppkey")))
        o <- Order.by(j.select(col("s_suppkey"), col("s_name"),
               round(col("__r4") / 10000.0, 2).as("total_revenue")),
               Seq("s_suppkey"))
      } yield o).get
    }),

    "q177_tpch17" -> ((s, dir) => {
      // TPC-H Q17 shape (small-quantity-order revenue), DECORRELATED: the
      // correlated per-part `avg(l_quantity)` subquery becomes one
      // grouped aggregate over the brand-filtered parts' lineitems,
      // joined back by part key — both sides prune through the broadcast
      // part filter before any fact shuffle. Quantities are integral
      // doubles (sum exact < 2^53), so sum/count×0.2 is bit-identical
      // across engines; revenue accumulates in exact ×100 cents.
      val part = tbl(s, dir, "part").filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey").as("l_partkey"))
      val li = tbl(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
      (for {
        branded <- Join.semi(li, part, Join.On(Seq("l_partkey")))
        thr <- Group.agg(branded, Seq("l_partkey"),
                 Group.Agg(Seq(
                   (sum(col("l_quantity")) / count(lit(1)) * 0.2)
                     .as("__qthr"))))
        j <- Join.inner(branded, thr, Join.On(Seq("l_partkey")))
        small <- Filter.where(j, col("l_quantity") < col("__qthr"))
        g = small.agg(round(
              sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0
                / 7.0, 2).as("avg_yearly"))
      } yield g).get
    }),

    "q178_tpch19" -> ((s, dir) => {
      // TPC-H Q19 shape (discounted revenue, disjunctive predicate): three
      // brand/size/quantity branches OR'd across the part⋈lineitem join.
      // Catalyst's constraint propagation extracts the per-side residues —
      // the part scan reads only the three brands' rows (PushedFilters
      // carries the brand/size Or), the lineitem scan gets the overall
      // quantity envelope, and part broadcasts. Revenue accumulates in
      // exact ×10⁴ scaled-integer form.
      val part = tbl(s, dir, "part").select("p_partkey", "p_brand", "p_size")
      val li = tbl(s, dir, "lineitem")
        .select(col("l_partkey").as("p_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
      val branch = (brand: String, szLo: Int, szHi: Int, qLo: Int, qHi: Int) =>
        col("p_brand") === brand && col("p_size").between(szLo, szHi) &&
          col("l_quantity").between(qLo, qHi)
      (for {
        j <- Join.inner(li, part.hint("broadcast"), Join.On(Seq("p_partkey")))
        m <- Filter.where(j,
               branch("Brand#12", 1, 5, 1, 11) ||
               branch("Brand#23", 1, 10, 10, 20) ||
               branch("Brand#34", 1, 15, 20, 30))
        g = m.agg(round(
              sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
                * 10000).cast("long")) / 10000.0, 2).as("revenue"))
      } yield g).get
    }),

    "q188_tpch12" -> ((s, dir) => {
      // TPC-H Q12 shape (line-priority distribution; l_returnflag stands
      // in for the absent l_shipmode column): the one fact-fact shuffle
      // join on orderkey, with the date filter pushed to the lineitem
      // scan so only the 1996 slice shuffles, then one conditional
      // aggregate pass — high-priority vs low-priority line counts per
      // return flag, no second scan or self-join.
      val orders = tbl(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      val li = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate").between("1996-01-01", "1996-12-31"))
        .select("l_orderkey", "l_returnflag")
      val isHigh = col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH"
      (for {
        j <- Join.inner(li, orders, Join.On(Seq("l_orderkey")))
        g <- Group.agg(j, Seq("l_returnflag"), Group.Agg(Seq(
               sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
               sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))))
        o <- Order.by(g, Seq("l_returnflag"))
      } yield o).get
    }),

    "q179_mmr_select" -> ((s, dir) => {
      // Diversified retrieval: greedy MMR over a 12-candidate shortlist,
      // k=4 per query. λ=0.5 keeps both λ and 1−λ exact in binary, so
      // every greedy score is bit-identical across engines and the
      // oracle replays the selection with a 4-step unrolled CTE chain.
      val emb = tbl(s, dir, "embeddings")
      Similarity.mmrSelect(emb.filter(col("vec_id") < 60),
        emb.filter(col("vec_id").between(490, 492)),
        "embedding", "vec_id", k = 4, lambda = 0.5, shortlist = 12).get
        .orderBy("queryId", "rank")
    }),

    "q180_pair_recall" -> ((s, dir) => {
      // Measured-recall audit: deterministic 20% sample, brute-force
      // exact-Jaccard truth within it, scored against a deliberately
      // handicapped generator (minhash pairs restricted to even idA) so
      // the estimate lands strictly below 1. The oracle replays the
      // sample draw (md5 mod), the truth brute force, and the handicap.
      val docs = tbl(s, dir, "documents")
      val pairs = Dedup.minhashPairs(docs, "text", "doc_id",
          shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5).get
        .filter(col("idA") % 2 === 0)
      Dedup.pairRecallEstimate(docs, "text", "doc_id", pairs,
        threshold = 0.5, sampleFraction = 0.2).get
    }),

    "q183_asof_nearest" -> ((s, dir) => {
      // merge_asof nearest-direction with tolerance: for each click, the
      // closest purchase by the same user within ±2 hours (ties →
      // backward, the pandas order). Same union+window plan as q52 —
      // one shuffle on user_id, the second direction adds only an
      // in-partition sort. The corpus has no equidistant-purchase ties
      // (checked), so the match set is a pure function of the data.
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          round(col("value"), 4).as("purchase_value"))
      graft.operators.AsOfJoin.asOf(
        clicks, purchases, "ts", "purchase_ts", Seq("user_id"),
        rightCols = Seq("purchase_value"), direction = "nearest",
        tolerance = Some(expr("INTERVAL 2 HOURS"))).get
        .select(col("event_id"), col("user_id"), col("ts"),
          col("purchase_ts"), col("purchase_value"))
        .orderBy("event_id")
    }),

    "q181_pq_encode" -> ((s, dir) => {
      // Product-quantization codes (8 subspaces × 16 cells over 64-dim)
      // on the portable md5-sign codebook — every per-subspace argmax is
      // recomputed by the oracle from the shared sign formula, so the
      // quantizer itself (not just a downstream ranking) is value-gated.
      Quantize.pqEncode(tbl(s, dir, "embeddings"), "embedding", "vec_id",
          m = 8, cells = 16).get
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
        .orderBy("vec_id", "s")
    }),

    "q182_pq_knn" -> ((s, dir) => {
      // ADC-scored kNN with an exhaustive shortlist (600 ≥ corpus), so
      // the exact rerank sees every candidate and the emitted top-k
      // equals exact brute force — the full plan path (code scan, table
      // broadcast, shortlist window, rerank join) under an exact oracle.
      // Approximate-shortlist recall is measured in QuantizeSpec.
      val emb = tbl(s, dir, "embeddings")
      Quantize.pqKnn(emb, emb.filter(col("vec_id") < 10), "embedding",
          "vec_id", k = 5, m = 8, cells = 16, shortlistK = 600).get
        .orderBy("queryId", "rank")
    }),

    "q184_pq_assigned" -> ((s, dir) => {
      // Caller-supplied-codebook PQ (the trained-k-means path) under a
      // value-exact oracle: the codebook is synthesized from exact
      // quarter-rational arithmetic — centroid[i] = ((s·31 + cell·7 +
      // i·3) mod 11 − 5) / 4 — so DuckDB replays every nearest-center
      // (l2) assignment, including the 2·x·c − |c|² expansion.
      val cb = s.range(0, 8).select(col("id").cast("int").as("s"))
        .crossJoin(s.range(0, 16).select(col("id").cast("int").as("cell")))
        .withColumn("centroid", expr(
          "transform(sequence(0, 7), i -> " +
          "CAST(((s*31 + cell*7 + i*3) % 11 - 5) / 4.0 AS FLOAT))"))
      Quantize.pqEncodeWith(tbl(s, dir, "embeddings"), "embedding",
          "vec_id", cb, m = 8, metric = "l2").get
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
        .orderBy("vec_id", "s")
    }),

    "q233_seasonal" -> ((s, dir) => {
      // STL-lite decomposition of the hourly zero-filled per-type
      // series (×100 integral sums), period 24: the centered MA and
      // the per-phase means are exact rationals of integers; only the
      // re-center term sums ≤24 doubles — tier-3 noise, rounded at 4
      // with the 1e-9 tie-shift on both engines.
      val filled = TimeSeries.gapFill(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "ts", Seq("event_type"), bucketSec = 3600L, valueCol = "value",
          how = "sum", fill = "zero").get
      TimeSeries.seasonalDecompose(filled, "bucket_ts", Seq("event_type"),
          "value", period = 24).get
        .select(col("event_type"), col("bucket_ts"), col("phase"),
          round(col("value") / 100.0, 4).as("value"),
          round(col("trend") / 100.0 + lit(1e-9), 4).as("trend"),
          round(col("seasonal") / 100.0 + lit(1e-9), 4).as("seasonal"),
          round(col("residual") / 100.0 + lit(1e-9), 4).as("residual"))
        .orderBy("event_type", "bucket_ts")
    }),

    "q187_gap_fill" -> ((s, dir) => {
      // Regularize the event stream to 1-hour buckets per event type:
      // empty buckets materialize with n=0 and the last non-empty
      // bucket's sum carried forward (ffill). The oracle replays the
      // grid (range over each type's span), the bucket aggregation, and
      // the ignore-nulls carry-forward window. Values pre-scale to ×100
      // integral doubles (the data is 2-decimal) so every partial sum
      // is exact and order-independent — engine-deterministic without
      // relying on a rounding margin.
      TimeSeries.gapFill(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "ts", Seq("event_type"), bucketSec = 3600L, valueCol = "value",
          how = "sum", fill = "ffill").get
        .withColumn("value", round(col("value") / 100.0, 4))
        .orderBy("event_type", "bucket_ts")
    }),

    "q189_gap_fill_linear" -> ((s, dir) => {
      // Linear interpolation across gaps: hourly per-type averages, with
      // empty buckets interpolated between the surrounding cells. The
      // oracle replays the same prev/next ignore-nulls windows and the
      // identical IEEE interpolation expression. ×100 integral scaling
      // makes the cell sums exact, so the interpolation inputs — and
      // therefore its IEEE outputs — are bit-identical across engines.
      TimeSeries.gapFill(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "ts", Seq("event_type"), bucketSec = 3600L, valueCol = "value",
          how = "avg", fill = "linear").get
        // +1e-9 pre-round: cell means / interpolants are exact dyadic
        // rationals that can land EXACTLY on a 4-decimal tie, where
        // HALF_UP-on-string (Spark) and true-value rounding (DuckDB)
        // disagree; the shift moves ties strictly off the boundary on
        // both engines (inputs are bit-identical, spacing >= 4e-8).
        .withColumn("value", round(col("value") / 100.0 + lit(1e-9), 4))
        .orderBy("event_type", "bucket_ts")
    }),

    "q190_rolling_anomaly" -> ((s, dir) => {
      // Anomaly screen composed from the gap-fill grid: zero-filled
      // hourly sums, then a leak-free trailing-24-bucket mean/std and
      // the z-score of each bucket against them. Empty buckets score as
      // genuine anomalies instead of collapsing the window span. ×100
      // integral scaling keeps the rolling sum / sum-of-squares frames
      // exact (max |v²·24| ≈ 6e12 < 2⁵³), so mean/std/z are
      // bit-deterministic; z is scale-invariant.
      val gf = TimeSeries.gapFill(
        events(s, dir).withColumn("value", round(col("value") * 100)),
        "ts", Seq("event_type"), bucketSec = 3600L, valueCol = "value",
        how = "sum", fill = "zero").get
      TimeSeries.rollingStats(gf, "bucket_ts", Seq("event_type"),
          "value", window = 24).get
        // value is exact 2-decimal (integral cents / 100) so it rounds
        // tie-free; mean/std/z are dyadic rationals that can tie at 4
        // decimals — +1e-9 shifts ties off the boundary identically on
        // both engines (see q189).
        .select(col("event_type"), col("bucket_ts"),
          round(col("value") / 100.0, 4).as("value"), col("roll_n"),
          round(col("roll_mean") / 100.0 + lit(1e-9), 4).as("roll_mean"),
          round(col("roll_std") / 100.0 + lit(1e-9), 4).as("roll_std"),
          round(col("z") + lit(1e-9), 4).as("z"))
        .orderBy("event_type", "bucket_ts")
    }),

    "q191_ewma" -> ((s, dir) => {
      // Recursive EWMA (pandas ewm(adjust=false)) over the zero-filled
      // hourly grid — the one sequential per-key scan in the library.
      // alpha = 0.25 keeps both alpha and 1-alpha exact in binary, so
      // the oracle's list_reduce replay is bit-identical per step.
      val gf = TimeSeries.gapFill(
        events(s, dir).withColumn("value", round(col("value") * 100)),
        "ts", Seq("event_type"), bucketSec = 3600L, valueCol = "value",
        how = "sum", fill = "zero").get
      TimeSeries.ewma(gf, "bucket_ts", Seq("event_type"), "value",
          alpha = 0.25).get
        // smoothed values are dyadic rationals (0.25/0.75 multipliers on
        // integral cents) — +1e-9 pre-round avoids exact 4-decimal ties
        // (see q189); raw value is exact 2-decimal, tie-free.
        .select(col("event_type"), col("bucket_ts"),
          round(col("value") / 100.0, 4).as("value"),
          round(col("ewma") / 100.0 + lit(1e-9), 4).as("ewma"))
        .orderBy("event_type", "bucket_ts")
    }),

    "q192_funnel" -> ((s, dir) => {
      // Ordered view → click → purchase funnel with a 3-day conversion
      // window from entry: 150 → 115 → 65 entities at sf0.01 — each
      // later step's min-time window depends on the previous step's
      // window RESULT, which the oracle replays as the same chained
      // CTE of per-user conditional mins. Counts are exact integers;
      // rates divide identical longs on both engines (bit-identical
      // doubles) with the +1e-9 tie-shift before round.
      Behavior.funnel(events(s, dir), "ts", "user_id", "event_type",
        Seq("view", "click", "purchase"), windowSec = 259200L).get
    }),

    "q193_cohort_retention" -> ((s, dir) => {
      // Daily-cohort retention matrix: cohort = first active day per
      // user, cells = distinct (user, day) activity counted against the
      // cohort's offset-0 size. Counts exact; retention divides the
      // same two longs on both engines.
      Behavior.cohortRetention(events(s, dir), "ts", "user_id",
          bucketSec = 86400L).get
        .orderBy("cohort_ts", "offset")
    }),

    "q194_event_transitions" -> ((s, dir) => {
      // First-order Markov transition matrix over per-user event
      // sequences (ordered by ts with event_id as the deterministic
      // equal-µs tiebreak): 25 (prev, next) cells at sf0.01 whose
      // counts the oracle replays with the identical lag window; row
      // probabilities divide exact longs.
      Behavior.transitionMatrix(events(s, dir), "ts", "event_id",
          "user_id", "event_type").get
        .orderBy("prev_type", "type")
    }),

    "q195_pagerank" -> ((s, dir) => {
      // Fixed-point PageRank over the symmetric part↔supplier graph
      // from lineitem (nodes namespaced 2·part / 2·supp+1), 3
      // iterations at scale 1e9. Every mass transfer is BIGINT floor
      // division — exact and order-independent — so the oracle replays
      // the full recursion with `//` and matches rank-for-rank; score
      // divides the same integers (bit-identical double).
      val li = tbl(s, dir, "lineitem")
      val fwd = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pageRank(edges, "src", "dst", iterations = 3,
          scale = 1000000000L).get
        .orderBy("node")
    }),

    "q196_bipartite_projection" -> ((s, dir) => {
      // Co-occurrence projection: supplier–supplier edges weighted by
      // shared distinct parts, thresholded at 150 (355 edges over the
      // 100 suppliers at sf0.01). The oracle replays the distinct
      // membership self-join and the HAVING threshold; counts exact.
      Graph.projectBipartite(tbl(s, dir, "lineitem"),
          "l_suppkey", "l_partkey", minShared = 150L).get
        .orderBy("src", "dst")
    }),

    "q197_triangle_count" -> ((s, dir) => {
      // Exact per-node triangle counts (forward/degree-orientation
      // algorithm) over the thresholded supplier co-occurrence graph:
      // 287 triangles across 64 of the graph's nodes at sf0.01. The
      // oracle brute-forces a<b<c closure joins — orientation is the
      // scale path, the SQL is the spec. Clustering coefficient divides
      // the same exact integers on both engines.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 150L).get
      Graph.triangleCount(proj, "src", "dst").get
        .withColumn("clustering", round(col("clustering") + lit(1e-9), 4))
        .orderBy("node")
    }),

    "q198_graph_components" -> ((s, dir) => {
      // Connected components of the sparser threshold-160 supplier
      // graph (49 nodes, 5 components at sf0.01) — min-reachable-node
      // labels, which the oracle replays via a recursive-CTE
      // reachability closure.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 160L).get
      Graph.connectedComponents(proj, "src", "dst").get
        .orderBy("node")
    }),

    "q199_weighted_pagerank" -> ((s, dir) => {
      // Weight-proportional fixed-point PageRank over the thresholded
      // supplier co-occurrence graph (weights = shared-part counts,
      // symmetrized): transfers are (rank·17·w) div (20·outWeight) —
      // still exact BIGINT arithmetic, so the oracle replays the full
      // 3-iteration recursion rank-for-rank.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 150L).get
      val sym = proj.union(proj.select(col("dst").as("src"),
        col("src").as("dst"), col("shared")))
      Graph.pageRank(sym, "src", "dst", iterations = 3,
          scale = 1000000000L, weightCol = Some("shared")).get
        .orderBy("node")
    }),

    "q200_top_paths" -> ((s, dir) => {
      // Top-10 opening paths (first two event types per user): 25
      // distinct paths at sf0.01 with counts 13…1 — the per-entity
      // bounded sort-collect shape; ties broken by path, replayed with
      // an ordered string_agg.
      Behavior.topPaths(events(s, dir), "ts", "event_id", "user_id",
        "event_type", maxLen = 2, k = 10).get
    }),

    "q201_session_stats" -> ((s, dir) => {
      // Batch sessionization (6 h gap split) + per-session summary: the
      // batch counterpart of the q66 streaming sessionizer, replayed as
      // the identical lag + running-sum windows. All outputs are exact
      // integers/timestamps.
      Behavior.sessionStats(events(s, dir), "ts", "event_id", "user_id",
          gapSec = 21600L).get
        .orderBy("user_id", "session_idx")
    }),

    "q202_kcore" -> ((s, dir) => {
      // 6-core of the thresholded supplier co-occurrence graph (46
      // survivors of 68 nodes at sf0.01, peeling converges in 3
      // rounds). The oracle unrolls 8 peel rounds — idempotent after
      // convergence — and reports in-core degrees.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 150L).get
      Graph.kCore(proj, "src", "dst", k = 6L).get
        .orderBy("node")
    }),

    "q232_louvain" -> ((s, dir) => {
      // Louvain local-move passes over the q202 co-occurrence graph:
      // 4 semi-synchronous passes from singleton communities, every
      // gain compared as an exact BIGINT (2m²-scaled ΔQ), md5-parity
      // move damping — the oracle unrolls the identical passes.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 150L).get
      Graph.louvainMove(proj, "src", "dst", passes = 4).get
        .orderBy("node")
    }),

    "q320_cc_star" -> ((s, dir) => {
      // Large-star/small-star connected components on 8 interleaved
      // orderkey chains (consecutive keys within each o_orderkey % 8
      // class link): component diameters are ~n/8 hops — far beyond
      // any min-label round budget — yet star contraction converges in
      // O(log n) rounds to the exact closed form the oracle states
      // directly: component = the residue class minimum.
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey").as("k"), pmod(col("o_orderkey"), lit(8)).as("r"))
      val w = Window.partitionBy(col("r")).orderBy(col("k"))
      val e = o.withColumn("nxt", lead(col("k"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("k").as("src"), col("nxt").as("dst"))
      Graph.connectedComponentsStar(e, "src", "dst", maxRounds = 25).get
        .orderBy("node")
    }),

    "q391_cc_warmstart" -> ((s, dir) => {
      // WARM-START star CC (r11 ask #5): the q320 chains re-run
      // incrementally — the first-half snapshot's labels seed the full
      // run (each prior component joins as a one-hop star around its
      // min member), and the seeded labeling must STILL equal the
      // closed form the oracle states (seeded == cold; GraphSpec
      // additionally asserts the contraction-round drop).
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey").as("k"), pmod(col("o_orderkey"), lit(8)).as("r"))
      val w = Window.partitionBy(col("r")).orderBy(col("k"))
      def chain(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("nxt", lead(col("k"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("k").as("src"), col("nxt").as("dst"))
      // snapshot N = keys in the lower half: within each residue class
      // a key-threshold cut is a PREFIX of the sorted chain, so its
      // consecutive pairs are a subset of the full chain's — the
      // growing-snapshot contract the seed requires
      val t = o.agg(max(col("k"))).head().getLong(0) / 2
      val seedLabels = Graph.connectedComponentsStar(
        chain(o.filter(col("k") <= t)), "src", "dst", maxRounds = 25).get
      Graph.connectedComponentsStar(chain(o), "src", "dst",
          maxRounds = 25, seed = Some(seedLabels)).get
        .orderBy("node")
    }),

    "q318_louvain_full" -> ((s, dir) => {
      // FULL Louvain — both phases: 2 local-move passes, contraction of
      // communities to weighted super-nodes (cross weights sum,
      // intra weights become self-loops), 2 more weighted passes on the
      // coarse graph, labels composed back down. Each level is accepted
      // only if the exact BIGINT modularity numerator strictly
      // increases — the oracle unrolls both levels, both numerators,
      // and the acceptance CASE decision-for-decision.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 150L).get
      Graph.louvain(proj, "src", "dst", passes = 2, levels = 2).get
        .orderBy("node")
    }),

    "q328_louvain_warm" -> ((s, dir) => {
      // WARM-START continuation as a gate: 2 cold local-move passes,
      // then a SEEDED 1-pass run with firstPass = 3 continues the
      // md5-parity schedule — bit-identical to an uninterrupted 3-pass
      // run, which is exactly what the oracle unrolls. The production
      // shape this locks: snapshot N+1 community detection resumes
      // from snapshot N's labeling instead of re-running cold.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 150L).get
      val cold = Graph.louvainMove(proj, "src", "dst", passes = 2).get
      Graph.louvainMove(proj, "src", "dst", passes = 1,
        seed = Some(cold), firstPass = 3).get
        .orderBy("node")
    }),

    "q329_dd_quantiles" -> ((s, dir) => {
      // DDSketch mergeable quantiles (per-returnflag price percentiles)
      // vs the EXACT rank values, with the paper's α bound asserted —
      // the q81 pattern (sketch + exact + within-bound flag) for the
      // quantile member of the sketch family. Both engines replay the
      // same bucket map ⌈ln v / ln γ⌉ (ln γ baked in as one shared
      // double literal) and the same double rank arithmetic
      // ⌊q(n−1)⌋ + 1, so the picked buckets are identical and only the
      // midpoint pow() can wiggle an ulp — absorbed by the 1e-9-shifted
      // round.
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val alpha = 0.01
      val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99)
      val li = tbl(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("double").as("v"))
      val est = Sketch.ddQuantiles(li, "v", qs, alpha,
        keys = Seq("l_returnflag")).get
      val w = Window.partitionBy("l_returnflag").orderBy("v")
      val ranked = li
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt",
          count(lit(1)).over(Window.partitionBy("l_returnflag")))
      val exact = ranked.crossJoin(broadcast(qs.toDF("q")))
        .filter(col("rn") ===
          floor(col("q") * (col("cnt") - 1).cast("double")).cast("long") + 1)
        .select(col("l_returnflag"), col("q"), col("v").as("exact"))
      est.join(exact, Seq("l_returnflag", "q"))
        .select(col("l_returnflag"), col("q"),
          round(col("estimate") + lit(1e-9), 4).as("estimate"),
          col("exact"),
          (abs(col("estimate") - col("exact")) <=
            lit(alpha) * abs(col("exact")) + lit(1e-9)).as("within_bound"))
        .orderBy("l_returnflag", "q")
    }),

    "q330_stream_ivf_index" -> ((s, dir) => {
      // STREAMING IVF index maintenance: embeddings arrive in 4 REAL
      // micro-batches and ivfIndexSink appends each batch's encoded
      // lists as batch=<id>/cell=<c> parquet — the read-back index must
      // be BIT-IDENTICAL to a batch ivfEncodeWith over the same rows,
      // which is what the oracle replays (q317's data-read coarse
      // routing + q184's quarter-rational code argmin, both exact
      // sequential-dot arithmetic).
      implicit val sp: SparkSession = s
      val emb = tbl(s, dir, "embeddings")
      val coarse = emb
        .filter(col("vec_id") % 6 === 1 && col("vec_id") < 48)
        .select(expr("CAST(vec_id DIV 6 AS INT)").as("cell"),
          col("embedding").as("centroid"))
      val cb = s.range(0, 8).select(col("id").cast("int").as("s"))
        .crossJoin(s.range(0, 16).select(col("id").cast("int").as("cell")))
        .withColumn("centroid", expr(
          "transform(sequence(0, 7), i -> " +
          "CAST(((s*31 + cell*7 + i*3) % 11 - 5) / 4.0 AS FLOAT))"))
      val tmp = System.getProperty("java.io.tmpdir")
      val staged = s"$tmp/graft_stream_src330"
      emb.repartition(4).write.mode("overwrite").parquet(staged)
      val idxDir = s"$tmp/graft_stream_idx330"
      val ckpt = s"$tmp/graft_stream_ckpt330_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val fs = new org.apache.hadoop.fs.Path(idxDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idxDir), true)
      val schema = s.read.parquet(staged).schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
      val q = graft.streaming.Stream.ivfIndexSink(src, idxDir,
        "embedding", "vec_id", coarse, cb, m = 8, cells = 16,
        checkpointLocation = ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).get
      q.processAllAvailable()
      q.stop()
      s.read.parquet(idxDir)
        .select(col("vec_id"), col("cell").cast("int").as("cell"),
          posexplode(col("codes")).as(Seq("s", "code")))
        .select(col("vec_id"), col("cell"), col("s").cast("int").as("s"),
          col("code").cast("int").as("code"))
        .orderBy("vec_id", "s")
    }),

    "q331_cc_fallback" -> ((s, dir) => {
      // duplicateClusters' automatic wide-diameter rescue: the q320
      // interleaved chains (~n/8 hops) through the PAIR-LIST entry
      // point with the distributed loop forced and maxIter = 10 — the
      // min-label loop cannot converge, the star-contraction fallback
      // takes over, and the exact closed-form labeling (residue-class
      // minimum) comes back as a clean Ok.
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey").as("k"), pmod(col("o_orderkey"), lit(8)).as("r"))
      val w = Window.partitionBy(col("r")).orderBy(col("k"))
      val e = o.withColumn("nxt", lead(col("k"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("k").as("idA"), col("nxt").as("idB"))
      val r = Dedup.duplicateClusters(e, maxIter = 10, maxDriverEdges = 0L)
      assert(r.isOk, "fallback must return a clean Ok")
      r.get.select(col("id").as("node"), col("cluster").as("component"))
        .orderBy("node")
    }),

    "q332_winnow_fingerprints" -> ((s, dir) => {
      // Winnowing (MOSS) fingerprint selection replayed position-for-
      // position: char-16-gram md5 prefixes, window-of-8 integer minima
      // on the combined (hash, pos) key, distinct selections. All
      // integer arithmetic — bit-deterministic on both engines.
      Dedup.winnowFingerprints(
          tbl(s, dir, "documents").filter(col("doc_id") < 40),
          "text", "doc_id", k = 16, w = 8).get
        .select(col("id").as("doc_id"), col("pos"), col("fp"))
        .orderBy("doc_id", "pos", "fp")
    }),

    "q333_winnow_pairs" -> ((s, dir) => {
      // Near-verbatim candidate pairs from shared winnowing
      // fingerprints, boilerplate-capped: fingerprints in > 25 docs
      // drop (the cap BINDS on this corpus — shared template phrases),
      // pairs need >= 3 distinct shared fingerprints. Guarantee: any
      // >= 23-char verbatim overlap shares >= 1 fingerprint.
      Dedup.winnowPairs(tbl(s, dir, "documents"), "text", "doc_id",
          k = 16, w = 8, minShared = 3L, maxBucket = 25).get
        .orderBy("idA", "idB")
    }),

    "q334_stream_quantiles" -> ((s, dir) => {
      // STREAMING percentile monitor: per-hour-window DDSketch bucket
      // maps (bounded state) over a file stream, drained and finished
      // with the shared quantile pick — counts are exact integers, so
      // the drained histogram is bit-equal to batch bucketing and the
      // oracle replays the whole chain (time_bucket windows, the q329
      // bucket map with the same baked-in ln γ, rank picks).
      implicit val sp: SparkSession = s
      val staged =
        s"${System.getProperty("java.io.tmpdir")}/graft_stream_src334"
      events(s, dir).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val name = "graft_swq_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val hist = (for {
        src <- Read.fileStream(staged, "parquet", schema)
        h <- graft.streaming.Stream.windowedDdSketches(src, "ts",
          "1 hour", "30 minutes", "value", alpha = 0.01,
          keys = Seq("event_type"))
        res <- graft.streaming.Stream.drainToMemory(h, name, "complete")
      } yield res).get
      val flat = hist.select(col("window.start").as("ws"),
        col("event_type"), col("store"), col("bucket"), col("n"))
      Sketch.ddQuantilesFromHistogram(flat, Seq(0.5, 0.95), alpha = 0.01,
          keys = Seq("ws", "event_type")).get
        .select(col("ws"), col("event_type"), col("q"),
          round(col("estimate") + lit(1e-9), 4).as("estimate"))
        .orderBy("ws", "event_type", "q")
    }),

    "q387_stream_dd_merge" -> ((s, dir) => {
      // The DDSketch MERGE LAW, streamed (r11 ask #3): per-hour-window
      // sketches drained from 4 real micro-batches are merged ACROSS
      // windows (bucket counts add losslessly) and finished per
      // event_type — the oracle computes the batch sketch over ALL
      // events directly, so equality proves drained streaming sketches
      // compose downstream exactly like batch ones (the 100 TB
      // profile-algebra path: sketch per window/shard, merge at read).
      implicit val sp: SparkSession = s
      val staged =
        s"${System.getProperty("java.io.tmpdir")}/graft_stream_src387"
      events(s, dir).repartition(4).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val name = "graft_sddm_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val hist = (for {
        src <- Read.fileStream(staged, "parquet", schema)
        h <- graft.streaming.Stream.windowedDdSketches(src, "ts",
          "1 hour", "30 minutes", "value", alpha = 0.01,
          keys = Seq("event_type"))
        res <- graft.streaming.Stream.drainToMemory(h, name, "complete")
      } yield res).get
      // the merge: DROP the window key — ddQuantilesFromHistogram's
      // groupBy-sum re-aggregates bucket counts over all windows
      val flat = hist.select(col("event_type"), col("store"),
        col("bucket"), col("n"))
      Sketch.ddQuantilesFromHistogram(flat, Seq(0.5, 0.95), alpha = 0.01,
          keys = Seq("event_type")).get
        .select(col("event_type"), col("q"),
          round(col("estimate") + lit(1e-9), 4).as("estimate"))
        .orderBy("event_type", "q")
    }),

    "q388_kmv_roundtrip" -> ((s, dir) => {
      // Sketch PERSISTENCE round trip (r11 ask #6): the q357 build —
      // per-(source, lang) KMV(64) sketches — lands in parquet, a FRESH
      // session reads it back, and the merge runs on the loaded rows.
      // The oracle replays the DIRECT build, so matching it proves
      // store → load → merge is bit-lossless: the 100 TB profile
      // algebra (sketch per shard/snapshot, merge at read) holds
      // ACROSS sessions, not just in-session.
      val sh = tbl(s, dir, "documents").select(col("source"), col("lang"),
        explode(graft.functions.TextFunctions.wordShingles(col("text"), 3))
          .as("g"))
      val sk = graft.operators.Sketch.kmvSketches(
        sh, Seq("source", "lang"), "g", k = 64, salt = "r11").get
      val store =
        s"${System.getProperty("java.io.tmpdir")}/graft_sketch_store388"
      sk.write.mode("overwrite").parquet(store)
      val fresh = s.newSession()
      graft.operators.Sketch.kmvMergeEstimate(
        fresh.read.parquet(store), Seq("source"), k = 64)
        .get.orderBy("source")
    }),

    "q389_dd_roundtrip" -> ((s, dir) => {
      // DDSketch persistence: per-(event_type, shard) bucket histograms
      // → parquet → fresh-session load → cross-shard merge + quantile
      // finish. Integer bucket counts survive parquet bit-exactly, so
      // the one-pass oracle (the q387 SQL) must match.
      val ev = events(s, dir).filter(col("ts").isNotNull)
        .withColumn("__shard", pmod(col("event_id"), lit(4)))
      val hist = Sketch.ddHistogram(ev, "value", alpha = 0.01,
        keys = Seq("event_type", "__shard")).get
      val store =
        s"${System.getProperty("java.io.tmpdir")}/graft_sketch_store389"
      hist.write.mode("overwrite").parquet(store)
      val fresh = s.newSession()
      Sketch.ddQuantilesFromHistogram(
          fresh.read.parquet(store).drop("__shard"),
          Seq(0.5, 0.95), alpha = 0.01, keys = Seq("event_type")).get
        .select(col("event_type"), col("q"),
          round(col("estimate") + lit(1e-9), 4).as("estimate"))
        .orderBy("event_type", "q")
    }),

    "q390_hll_roundtrip" -> ((s, dir) => {
      // HLL BINARY persistence: per-(event_type, day) sketches →
      // parquet → read back → union per event_type. The gate computes
      // the equality itself — persisted-path estimate must EQUAL the
      // never-persisted union (binary state is exact through parquet)
      // and stay within 5% of exact distinct (sparse-mode sketches are
      // value-exact at this scale, the q383 device).
      val ev = events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .withColumn("__day", to_date(col("ts")))
      val sk = Sketch.hllSketches(ev, Seq("event_type", "__day"),
        "user_id").get
      val store =
        s"${System.getProperty("java.io.tmpdir")}/graft_sketch_store390"
      sk.write.mode("overwrite").parquet(store)
      val persisted = Sketch.hllMergeEstimate(
          s.read.parquet(store), Seq("event_type")).get
        .withColumnRenamed("n_distinct_approx", "__p")
      val direct = Sketch.hllMergeEstimate(sk, Seq("event_type")).get
        .withColumnRenamed("n_distinct_approx", "__d")
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      persisted.join(direct, "event_type").join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          (col("__p") === col("__d")).as("bit_equal"),
          (abs(col("__p") - col("n_exact")) <=
            col("n_exact") * 0.05).as("within_5pct"))
        .orderBy("event_type")
    }),

    "q335_jaccard_join" -> ((s, dir) => {
      // EXACT set-similarity join: prefix filtering prunes, but the
      // output must equal brute force bit-for-bit — the oracle IS the
      // brute-force all-pairs token-set Jaccard, so any prefix-lemma
      // mistake (a missed pair) hash-fails the gate.
      Dedup.jaccardJoin(tbl(s, dir, "documents"), "text", "doc_id",
          threshold = 0.9).get
        .orderBy("idA", "idB")
    }),

    "q336_point_in_time" -> ((s, dir) => {
      // SCD-2 build + its point-in-time consumer end-to-end: a per-
      // (custkey, date) status change log becomes versioned history
      // (q74's scd2), and every order picks the status valid AT ITS OWN
      // DATE — one equi-key broadcast join with the validity range as
      // the residual, replayed by the oracle as the same lead() window
      // + range join.
      val o = tbl(s, dir, "orders")
      val log = o.groupBy(col("o_custkey").as("k"),
          col("o_orderdate").as("ts"))
        .agg(max(col("o_orderstatus")).as("status"))
      val dim = Merge.scd2(log, Seq("k"), "ts").get.drop("ts", "is_current")
      Merge.pointInTimeJoin(
          o.select(col("o_orderkey"), col("o_custkey").as("k"),
            col("o_orderdate").as("fts")),
          dim, Seq("k"), "fts").get
        .select(col("o_orderkey"), col("k").as("o_custkey"),
          col("fts").as("o_orderdate"), col("status").as("status_at"))
        .orderBy("o_orderkey")
    }),

    "q337_edit_join" -> ((s, dir) => {
      // EXACT edit-distance join on first-letter signatures (64 words —
      // a word swap is one substitution, so char edits measure word
      // edits): q-gram prefix filtering prunes, but the output must
      // equal brute force bit-for-bit — the oracle IS the all-pairs
      // levenshtein, so a missed pair (a broken prefix lemma) hash-fails.
      val sig = tbl(s, dir, "documents")
        .select(col("doc_id"),
          array_join(transform(slice(TextFunctions.tokens(col("text")), 1, 64),
            t => substring(t, 1, 1)), "").as("sig"))
      Dedup.editDistanceJoin(sig, "sig", "doc_id", maxDist = 8, q = 2).get
        .orderBy("idA", "idB")
    }),

    "q338_keyness" -> ((s, dir) => {
      // Dunning G² keyness: which tokens characterize source src0
      // against the rest of the corpus — exact integer counts, one
      // vocabulary-sized grid, the G² doubles replayed term-for-term
      // by the oracle with the same cast/multiply order.
      graft.operators.Keywords.keyness(tbl(s, dir, "documents"),
          "text", "source", focusValue = "src0", minCount = 5L).get
        .orderBy("token")
    }),

    "q339_frequent_pairs" -> ((s, dir) => {
      // Market-basket frequent pairs: parts ordered together >= 3
      // times, with lift — Apriori item pruning before the quadratic
      // step, basket-size guard, exact counts.
      Behavior.frequentPairs(tbl(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 3L).get
        .orderBy("item_a", "item_b")
    }),

    "q340_bpe_merges" -> ((s, dir) => {
      // BPE tokenizer training: 12 merges learned from the documents
      // corpus — pair counts, deterministic (cnt desc, l, r) argmax,
      // greedy left-to-right fold — all replayed by the generated
      // unrolled oracle, so a single wrong merge cascades and
      // hash-fails.
      Bpe.learnMerges(tbl(s, dir, "documents"), "text",
          numMerges = BpeGateMerges).get
        .orderBy("step")
    }),

    "q341_bpe_token_counts" -> ((s, dir) => {
      // Honest per-document token counts under the corpus-trained
      // 12-merge tokenizer (vocabulary-sized segmentation join).
      Bpe.tokenCounts(tbl(s, dir, "documents"), "text", "doc_id",
          numMerges = BpeGateMerges).get
        .orderBy("doc_id")
    }),

    "q397_bpe_token_counts_direct" -> ((s, dir) => {
      // The JOIN-FREE token counter: every word occurrence runs the
      // one-expression tokenizer directly (map-side explode + one
      // partial-agg shuffle, stateless ⇒ stream-composable) under the
      // SAME frozen 12-merge table as q341 — identical counts, same
      // oracle replay.
      val merges = Bpe.collectMerges(Bpe.learnMerges(
        tbl(s, dir, "documents"), "text", numMerges = BpeGateMerges).get)
      Bpe.tokenCountsDirect(tbl(s, dir, "documents"), "text", "doc_id",
          merges).get
        .orderBy("doc_id")
    }),

    "q398_stream_token_counts" -> ((s, dir) => {
      // STREAMING frozen-tokenizer gate (r12 ask #4): documents arrive
      // as 4 real micro-batches with a synthetic event time (doc_id
      // minutes past a fixed epoch); per-hour windows sum exact BPE
      // token counts under the SAME corpus-trained 12-merge table as
      // q341/q397 (join-free one-expression tokenize — the only
      // stream-composable formulation). Drained per-window sums equal
      // the batch replay: the oracle recomputes them straight off the
      // unrolled-merge CTEs, so a single wrong token anywhere in any
      // window hash-fails.
      implicit val sp: SparkSession = s
      val merges = Bpe.collectMerges(Bpe.learnMerges(
        tbl(s, dir, "documents"), "text", numMerges = BpeGateMerges).get)
      val staged =
        s"${System.getProperty("java.io.tmpdir")}/graft_stream_src398"
      tbl(s, dir, "documents")
        .withColumn("ts",
          timestamp_seconds(lit(1704067200L) + col("doc_id") * 60L))
        .select("ts", "text")
        .repartition(4).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val name = "graft_stc_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      // REAL micro-batches (maxFilesPerTrigger=1 over 4 staged files,
      // the q321 discipline): a bare fileStream would swallow all four
      // files in ONE trigger and never exercise cross-batch window
      // state (r13 review finding)
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
      (for {
        counts <- graft.streaming.Stream.windowedTokenCounts(src, "ts",
          "text", "30 minutes", "1 hour", merges)
        res <- graft.streaming.Stream.drainToMemory(counts, name, "complete")
      } yield res).get
        .select(unix_timestamp(col("window.start")).as("window_start"),
          col("n_tokens"))
        .orderBy("window_start")
    }),

    "q399_dedup_index_incremental" -> ((s, dir) => {
      // Persisted-band-index incremental dedup (r12 ask #5) — the
      // 100 TB crawl loop's storage half: docs < 250 are "yesterday";
      // their band index lands in PARQUET, a FRESH session loads it,
      // and today's shard (docs >= 250) joins it banded — new×old and
      // new×new pairs WITHOUT re-shingling history. Yesterday's own
      // pair set ∪ the incremental output must equal the one-shot q34
      // pair set of the grown corpus (the q101 incremental contract,
      // now THROUGH storage) — the oracle IS q34's brute-force exact
      // cross-Jaccard, so any divergence hash-fails.
      val store =
        s"${System.getProperty("java.io.tmpdir")}/graft_band_index399"
      Dedup.minhashBandIndex(
          tbl(s, dir, "documents").filter(col("doc_id") < 250),
          "text", "doc_id", shingleSize = 3, bands = 16, rowsPerBand = 4)
        .get.write.mode("overwrite").parquet(store)
      val fresh = s.newSession()
      val docs = tbl(fresh, dir, "documents")
      val oldPairs = Dedup.minhashPairs(docs.filter(col("doc_id") < 250),
        "text", "doc_id", shingleSize = 3, bands = 16, rowsPerBand = 4,
        threshold = 0.5).get
      val inc = Dedup.minhashPairsIncremental(
        docs.filter(col("doc_id") >= 250), "text", "doc_id",
        fresh.read.parquet(store), shingleSize = 3, bands = 16,
        rowsPerBand = 4, threshold = 0.5).get
      oldPairs.unionByName(inc).orderBy("idA", "idB")
    }),

    "q401_vocab_segment" -> ((s, dir) => {
      // Greedy longest-match segmentation (the WordPiece-style apply,
      // whole-word UNK, no ## continuation — documented deviation) of
      // every corpus word under the corpus-derived vocabulary of the
      // q340 12-merge table (alphabet ∪ merged tokens). A DIFFERENT
      // algorithm from BPE-order apply (BpeSpec proves the divergence);
      // the oracle replays the greedy loop unrolled, one piece per
      // step, so a single wrong longest-match anywhere hash-fails.
      val docs = tbl(s, dir, "documents")
      val merges = Bpe.collectMerges(Bpe.learnMerges(docs, "text",
        numMerges = BpeGateMerges).get)
      Bpe.vocabSegmentWords(docs, "text",
          Bpe.vocabFromCorpus(docs, "text", merges)).get
        .orderBy("word")
    }),

    "q402_apply_compare" -> ((s, dir) => {
      // Tokenizer apply-comparison one-rower: BPE merge-order apply vs
      // greedy longest-match over the SAME corpus-derived token
      // inventory — exact occurrence totals per algorithm plus the
      // identical-segmentation agreement share. The vocabulary is the
      // merge closure EXTENDED with the top-5 corpus words by
      // (freq DESC, word ASC) — what production vocabularies do, and
      // what makes the two applies genuinely disagree: greedy takes a
      // whole common word in one piece where the merge order cannot.
      // Both sides replayed unrolled in the oracle.
      val docs = tbl(s, dir, "documents")
      val merges = Bpe.collectMerges(Bpe.learnMerges(docs, "text",
        numMerges = BpeGateMerges).get)
      val top5 = Bpe.wordFreqs(docs, "text")
        .orderBy(col("freq").desc, col("word")).limit(5)
        .collect().map(_.getString(0)).toSeq
      Bpe.applyCompareReport(docs, "text", merges,
        (Bpe.vocabFromCorpus(docs, "text", merges) ++ top5).distinct).get
    }),

    "q400_embedding_index_incremental" -> ((s, dir) => {
      // The q399 persisted-index law on the VECTOR side: vec_id < 250
      // is "yesterday", its portable-signature band index rides
      // through parquet into a fresh session, today's shard joins it
      // banded, and yesterday's pairs ∪ the incremental output must
      // equal the one-shot q37 pair set of the grown corpus — oracle =
      // q37's signature-replay + brute-force cosine verbatim.
      // Uncapped buckets + threshold 0.25 for the same reasons as q37.
      val store =
        s"${System.getProperty("java.io.tmpdir")}/graft_emb_index400"
      Dedup.embeddingBandIndex(
          tbl(s, dir, "embeddings").filter(col("vec_id") < 250),
          "embedding", "vec_id", bandBits = 10, nBands = 6)
        .get.write.mode("overwrite").parquet(store)
      val fresh = s.newSession()
      val emb = tbl(fresh, dir, "embeddings")
      val oldPairs = Dedup.embeddingNearDupPairsPortable(
        emb.filter(col("vec_id") < 250), "embedding", "vec_id",
        threshold = 0.25, bandBits = 10, nBands = 6,
        maxBucket = Int.MaxValue).get
      val inc = Dedup.embeddingPairsIncremental(
        emb.filter(col("vec_id") >= 250), "embedding", "vec_id",
        fresh.read.parquet(store), threshold = 0.25, bandBits = 10,
        nBands = 6, maxBucket = Int.MaxValue).get
      oldPairs.unionByName(inc).orderBy("idA", "idB")
    }),

    "q403_dedup_epoch" -> ((s, dir) => {
      // The incremental crawl-dedup EPOCH operator (r13 verdict ask
      // #1) — the composition of the persisted band index (q399), the
      // pair ledger, and warm-start clustering (q391) into ONE
      // operator: the corpus arrives in TWO shards, each epoch in a
      // FRESH session off the previous epoch's parquet state (load
      // index → band the shard uncapped → verify → extend ledger →
      // seed the clustering → forward index/pairs/labels/kept/
      // retractions). CHAINED LAW: epoch 2's labels == one-shot
      // duplicateClusters(minhashPairs(grown corpus)) at CLUSTER
      // level — the oracle replays brute-force cross-Jaccard pairs
      // plus min-label connected components (recursive reachability),
      // so a single wrong pair OR wrong label anywhere hash-fails.
      // TWO shards, not three (r14 verdict ask #1b): the chained law
      // is split-agnostic — the final labels depend only on the grown
      // corpus, which is identical — and two epochs already exercise
      // both prior=None and prior=Some(state-through-parquet), at 2/3
      // of the Verify wall cost.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_epoch403"
      var sess = s
      var prior: Option[Dedup.EpochState] = None
      for ((lo, hi, i) <- Seq((0L, 250L, 1),
          (250L, Long.MaxValue, 2))) {
        val shard = tbl(sess, dir, "documents")
          .filter(col("doc_id") >= lo && col("doc_id") < hi)
        val st = Dedup.dedupEpoch(shard, "text", "doc_id", prior,
          shingleSize = 3, bands = 16, rowsPerBand = 4,
          threshold = 0.5).get
        st.write(s"$base/e$i")
        sess = sess.newSession()
        prior = Some(Dedup.EpochState.load(sess, s"$base/e$i"))
      }
      prior.get.labels.orderBy("id")
    }),

    "q408_stream_epoch" -> ((s, dir) => {
      // The STREAMING crawl-dedup loop end-to-end: documents arrive
      // as 2 real micro-batches (maxFilesPerTrigger=1), each driving
      // one dedupEpoch inside foreachBatch with epoch=<batchId>
      // parquet state; the head state's labels must equal the q403
      // one-shot answer — the chained law is split-agnostic, so the
      // arbitrary repartition(2) file split is immaterial (two
      // micro-batches since r15, for the same Verify-budget reason as
      // q403's two shards: batch 1 runs prior=None, batch 2 the full
      // state-through-parquet handoff). Fresh UUID state/checkpoint
      // dirs per run (a stale checkpoint would silently skip every
      // batch).
      val run = java.util.UUID.randomUUID.toString.replace("-", "")
      val tmp = System.getProperty("java.io.tmpdir")
      val staged = s"$tmp/graft_stage408"
      tbl(s, dir, "documents").select("doc_id", "text")
        .repartition(2).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
      val state = s"$tmp/graft_epoch408_$run"
      val q = graft.streaming.Stream.dedupEpochSink(src, "text",
        "doc_id", state, s"$tmp/graft_ckpt408_$run",
        threshold = 0.5).get
      try q.processAllAvailable() finally q.stop()
      graft.streaming.Stream.latestEpochBefore(s, state).get
        .labels.orderBy("id")
    }),

    "q406_embedding_epoch" -> ((s, dir) => {
      // The q403 epoch law on the VECTOR side: embedding shards
      // through embeddingDedupEpoch in fresh sessions off parquet
      // state; final labels == one-shot portable-signature pairs +
      // clustering of the grown corpus. Oracle = q400's signature
      // replay + brute cosine + recursive-reachability CC. Two shards
      // since r15 — same split-agnostic Verify-budget rationale as
      // q403.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_epoch406"
      var sess = s
      var prior: Option[Dedup.EpochState] = None
      for ((lo, hi, i) <- Seq((0L, 250L, 1),
          (250L, Long.MaxValue, 2))) {
        val shard = tbl(sess, dir, "embeddings")
          .filter(col("vec_id") >= lo && col("vec_id") < hi)
        val st = Dedup.embeddingDedupEpoch(shard, "embedding", "vec_id",
          prior, threshold = 0.25, bandBits = 10, nBands = 6).get
        st.write(s"$base/e$i")
        sess = sess.newSession()
        prior = Some(Dedup.EpochState.load(sess, s"$base/e$i"))
      }
      prior.get.labels.orderBy("id")
    }),

    "q407_epoch_report" -> ((s, dir) => {
      // Epoch observability one-rower over the q403 chain's LAST
      // transition: index/ledger/label sizes, the epoch's new pairs
      // and labels, kept and retraction counts — all exact counts the
      // oracle recomputes from scratch, including the retraction
      // count, which needs the PREFIX corpus's connected components
      // too (rep-then ∧ ¬rep-now).
      val docs = tbl(s, dir, "documents")
      def shard(lo: Long, hi: Long) =
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val st1 = Dedup.dedupEpoch(shard(0L, 167L), "text", "doc_id",
        None, threshold = 0.5).get
      val st2 = Dedup.dedupEpoch(shard(167L, 334L), "text", "doc_id",
        Some(st1), threshold = 0.5).get
      val st3 = Dedup.dedupEpoch(shard(334L, Long.MaxValue), "text",
        "doc_id", Some(st2), threshold = 0.5).get
      Dedup.epochReport(st3, Some(st2)).get
    }),

    "q404_vocab_segment_marked" -> ((s, dir) => {
      // WordPiece-proper segmentation (r13 verdict ask #3): the q401
      // vocabulary in BOTH forms (word-initial + ##-continuation),
      // continuation pieces emitted WITH the marker, and the
      // detokenization law detok(segment(w)) == w evaluated in-plan
      // as the round_trip column (NULL for UNK — no claim to invert).
      // The oracle replays the greedy loop unrolled and reconstructs
      // the word from the marked segmentation itself.
      val docs = tbl(s, dir, "documents")
      val merges = Bpe.collectMerges(Bpe.learnMerges(docs, "text",
        numMerges = BpeGateMerges).get)
      Bpe.vocabSegmentWordsMarked(docs, "text",
          Bpe.markedVocabFromCorpus(docs, "text", merges)).get
        .orderBy("word")
    }),

    "q405_stream_vocab_counts" -> ((s, dir) => {
      // q398's greedy-vocabulary twin (r13 verdict ask #7): windowed
      // PIECE counts under the frozen corpus vocabulary through REAL
      // micro-batches (maxFilesPerTrigger=1 over 4 staged files — the
      // q321 discipline), drained == the batch replay the oracle
      // unrolls per hourly window.
      val docs0 = tbl(s, dir, "documents")
      val merges = Bpe.collectMerges(Bpe.learnMerges(docs0, "text",
        numMerges = BpeGateMerges).get)
      val vocab = Bpe.vocabFromCorpus(docs0, "text", merges)
      val staged =
        s"${System.getProperty("java.io.tmpdir")}/graft_stage405"
      docs0.withColumn("ts",
          timestamp_seconds(lit(1704067200L) + col("doc_id") * 60L))
        .select("ts", "text")
        .repartition(4).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val name = "graft_svc_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
      (for {
        counts <- graft.streaming.Stream.windowedVocabTokenCounts(src,
          "ts", "text", "30 minutes", "1 hour", vocab)
        res <- graft.streaming.Stream.drainToMemory(counts, name,
          "complete")
      } yield res).get
        .select(unix_timestamp(col("window.start")).as("window_start"),
          col("n_pieces"))
        .orderBy("window_start")
    }),

    "q356_weight_ess" -> ((s, dir) => {
      // Kish effective sample size of char-count-proportional
      // sampling weights over the corpus — the go/no-go check before
      // trusting any weighted estimate.
      graft.operators.Sampling.weightDiagnostics(
        tbl(s, dir, "documents"), "n_chars").get
    }),

    "q385_cochran_armitage" -> ((s, dir) => {
      // Dose-response: does P(price >= 30000) trend with quantity —
      // integer score grid, one partial agg, closed form.
      graft.operators.Stats.cochranArmitage(
        tbl(s, dir, "lineitem")
          .withColumn("__succ",
            col("l_extendedprice").cast("double") >= 30000.0),
        "__succ", "l_quantity").get
    }),

    "q386_runs_test" -> ((s, dir) => {
      // Serial randomness of the discount>=5% flag in a TOTAL order
      // (value appended to break the duplicate-key ties).
      graft.operators.Stats.runsTest(
        tbl(s, dir, "lineitem")
          .withColumn("__flag", col("l_discount").cast("double") >= 0.05),
        "__flag",
        orderCols = Seq("l_orderkey", "l_linenumber", "l_discount")).get
    }),

    "q384_wilson_ci" -> ((s, dir) => {
      // Per-source Wilson intervals for the long-document rate —
      // closed form of two exact counts, shared z literal.
      graft.operators.Stats.proportionCIBy(
        tbl(s, dir, "documents")
          .withColumn("__long", col("n_chars") >= 500),
        "__long", keys = Seq("source")).get
        .orderBy("source")
    }),

    "q381_trimmed_mean" -> ((s, dir) => {
      // 10%-trimmed mean price — exact integer band overlap on the
      // cent-scaled value grid.
      graft.operators.Stats.trimmedMean(tbl(s, dir, "lineitem"),
        "l_extendedprice", trim = 0.1, scaleDecimals = 2).get
    }),

    "q382_mmd" -> ((s, dir) => {
      // Linear-time RBF MMD between even- and odd-id embeddings —
      // same distribution, so z should sit near 0; the oracle replays
      // the deterministic pairing and all four kernels.
      val emb = tbl(s, dir, "embeddings")
      graft.operators.Stats.mmdLinear(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2)) === 1),
        "embedding", "vec_id", gamma = 0.02, nBuckets = 8,
        salt = "r11").get
    }),

    "q383_stream_hll" -> ((s, dir) => {
      // STREAMING per-day distinct-user sketches in 4 real
      // micro-batches; the gate merges the drained sketches per
      // event_type and asserts the estimate within 5% of exact (the
      // q81 device — sparse-mode sketches are value-exact here).
      implicit val sp: SparkSession = s
      val ev = events(s, dir)
      val staged =
        s"${System.getProperty("java.io.tmpdir")}/graft_stream_src383"
      ev.repartition(4).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val name = "graft_shll_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val drained = (for {
        src <- Read.fileStream(staged, "parquet", schema)
        h <- graft.streaming.Stream.windowedHllSketches(src, "ts",
          "1 day", "1 hour", "user_id", keys = Seq("event_type"))
        res <- graft.streaming.Stream.drainToMemory(h, name, "complete")
      } yield res).get
      val est = Sketch.hllMergeEstimate(drained, Seq("event_type")).get
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_distinct_approx") - col("n_exact")) <=
            col("n_exact") * 0.05).as("within_5pct"))
        .orderBy("event_type")
    }),

    "q380_conformal_by" -> ((s, dir) => {
      // Mondrian conformal: per-returnflag calibration quantiles on
      // the q366 setup — group-conditional coverage.
      val li = tbl(s, dir, "lineitem")
        .withColumn("__yhat", col("l_quantity").cast("double") * lit(960.0))
      graft.operators.Stats.splitConformalBy(
          li.filter(pmod(col("l_orderkey"), lit(2)) === 1),
          li.filter(pmod(col("l_orderkey"), lit(2)) === 0),
          "l_extendedprice", "__yhat", keys = Seq("l_returnflag"),
          alpha = 0.1).get
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("conformal_lo") + lit(1e-9), 6).as("conformal_lo"),
          round(col("conformal_hi") + lit(1e-9), 6).as("conformal_hi"))
        .orderBy("l_orderkey", "l_linenumber", "conformal_lo")
    }),

    "q379_bootstrap_by" -> ((s, dir) => {
      // Segment-level bootstrap CIs in the SAME single pass: per
      // returnflag, same draws as q368 (weights independent of keys).
      graft.operators.Stats.poissonBootstrapBy(tbl(s, dir, "lineitem"),
        "l_discount",
        idCols = Seq("l_orderkey", "l_linenumber", "l_partkey"),
        keys = Seq("l_returnflag"),
        nBoot = 40, alpha = 0.1, scaleDecimals = 2, salt = "r11").get
        .orderBy("l_returnflag")
    }),

    "q377_k_anonymity" -> ((s, dir) => {
      // Re-identification risk of (source, lang) as quasi-identifiers
      // at k = 20: per-class counts, violations, suppression budget.
      graft.operators.Quality.kAnonymityReport(
        tbl(s, dir, "documents"), Seq("source", "lang"), k = 20).get
        .orderBy("source", "lang")
    }),

    "q378_l_diversity" -> ((s, dir) => {
      // l-diversity of the nation key inside (mktsegment) classes —
      // a class can be k-anonymous and still constant-sensitive.
      graft.operators.Quality.lDiversityReport(
        tbl(s, dir, "customer"), Seq("c_mktsegment"), "c_nationkey",
        l = 5).get
        .orderBy("c_mktsegment")
    }),

    "q375_random_project" -> ((s, dir) => {
      // Deterministic JL projection 64 -> 8 dims over the md5 sign
      // matrix (the q37 formula) — exploded so every projection value
      // gates individually.
      graft.operators.Quantize.randomProject(
        tbl(s, dir, "embeddings"), "embedding", outDim = 8).get
        .select(col("vec_id"), posexplode(col("proj")))
        .select(col("vec_id"), col("pos").as("dim_j"),
          round(col("col") + lit(1e-9), 6).as("proj"))
        .orderBy("vec_id", "dim_j")
    }),

    "q376_median_ci" -> ((s, dir) => {
      // Distribution-free median CI from binomial order statistics —
      // exact grid-rank picks, shared z literal.
      graft.operators.Stats.medianCI(
        tbl(s, dir, "lineitem"), "l_extendedprice").get
    }),

    "q373_brier" -> ((s, dir) => {
      // Brier score + Murphy-style binned decomposition over the q371
      // pseudo-score setup — one row, scaled-integer row terms.
      val li = tbl(s, dir, "lineitem")
        .withColumn("__score", col("l_discount").cast("double") * lit(10.0))
        .withColumn("__label", col("l_quantity").cast("double") >= 25.0)
      graft.operators.Stats.brierDecomposition(li, "__score", "__label",
        bins = 10, scoreScaleDecimals = 6).get
    }),

    "q374_isotonic" -> ((s, dir) => {
      // Isotonic calibration grid (MLlib PAV) of P(quantity >= 25)
      // against discount — the oracle replays the EXACT minimax
      // closed form max_{j<=i} min_{k>=i} avg(y[j..k]) over the
      // 11-point weighted grid.
      val li = tbl(s, dir, "lineitem")
        .withColumn("__label", col("l_quantity").cast("double") >= 25.0)
      graft.model.Calibrate.isotonicGrid(li, "l_discount", "__label").get
        .orderBy("x")
    }),

    "q372_stream_psi" -> ((s, dir) => {
      // STREAMING PSI drift monitor in 4 real micro-batches: per-day
      // windowed bin counts over even event_ids (exact integers ⇒
      // stream == batch bit-parity), finished per window against the
      // frozen odd-id baseline histogram.
      implicit val sp: SparkSession = s
      val ev = events(s, dir)
      val edges = Seq(15.0, 35.0, 70.0)
      val staged =
        s"${System.getProperty("java.io.tmpdir")}/graft_stream_src372"
      ev.filter(pmod(col("event_id"), lit(2)) === 0).repartition(4)
        .write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val name = "graft_spsi_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val drained = (for {
        src <- Read.fileStream(staged, "parquet", schema)
        h <- graft.streaming.Stream.windowedBinCounts(src, "ts",
          "1 day", "1 hour", "value", edges)
        res <- graft.streaming.Stream.drainToMemory(h, name, "complete")
      } yield res).get
      val ref = graft.operators.Stats.binCounts(
        ev.filter(pmod(col("event_id"), lit(2)) === 1),
        "value", edges, "n_ref").get
      graft.operators.Stats.psiFromCounts(
          ref,
          drained.select(col("window.start").as("ws"), col("bin"),
            col("n")),
          nBins = edges.size + 1, keys = Seq("ws"),
          curCountCol = "n").get
        .orderBy("ws", "bin")
    }),

    "q369_cmh" -> ((s, dir) => {
      // Confounder-adjusted association: discount>=5% vs quantity>=25
      // stratified by returnflag — K 2x2 tables, one CMH chi2 + the
      // Mantel-Haenszel common odds ratio.
      val li = tbl(s, dir, "lineitem")
        .withColumn("__x", col("l_discount").cast("double") >= 0.05)
        .withColumn("__y", col("l_quantity").cast("double") >= 25.0)
      graft.operators.Stats.cmhTest(li, "__x", "__y", "l_returnflag").get
    }),

    "q370_psi" -> ((s, dir) => {
      // Population stability of prices, odd-vs-even orderkeys over
      // pinned edges — per-bin contributions plus the PSI total.
      val li = tbl(s, dir, "lineitem")
      graft.operators.Stats.psi(
        li.filter(pmod(col("l_orderkey"), lit(2)) === 1),
        li.filter(pmod(col("l_orderkey"), lit(2)) === 0),
        "l_extendedprice", Seq(1000.0, 5000.0, 10000.0, 50000.0)).get
        .orderBy("bin")
    }),

    "q371_calibration" -> ((s, dir) => {
      // Calibration curve + ECE of a pseudo-score (10x discount in
      // [0,1]) against quantity>=25 — scaled-integer confidence sums.
      val li = tbl(s, dir, "lineitem")
        .withColumn("__score", col("l_discount").cast("double") * lit(10.0))
        .withColumn("__label", col("l_quantity").cast("double") >= 25.0)
      graft.operators.Stats.calibrationReport(li, "__score", "__label",
        bins = 10, scoreScaleDecimals = 6).get.orderBy("bin")
    }),

    "q368_poisson_bootstrap" -> ((s, dir) => {
      // The 100 TB bootstrap: 40 deterministic Poisson(1) reweightings
      // in ONE pass — mean-discount CI; every draw, scaled sum and
      // replicate mean replays engine-identically.
      graft.operators.Stats.poissonBootstrap(tbl(s, dir, "lineitem"),
        "l_discount", idCols = Seq("l_orderkey", "l_linenumber", "l_partkey"),
        nBoot = 40, alpha = 0.1, scaleDecimals = 2, salt = "r11").get
    }),

    "q365_temperature_mix" -> ((s, dir) => {
      // sqrt-temperature domain mixing: alloc_i ∝ sqrt(n_i), integer
      // largest-remainder, sum(alloc) == 300 exactly; epochs > 1 =
      // up-sampled tail sources.
      graft.operators.Sampling.temperatureAllocate(
        tbl(s, dir, "documents"), "source", budget = 300L, alpha = 0.5)
        .get.orderBy("key")
    }),

    "q366_conformal" -> ((s, dir) => {
      // Split-conformal intervals around a FIXED unit-price model
      // (yhat = 960·qty): odd orderkeys calibrate, even orderkeys get
      // intervals — model-free coverage machinery, exact grid rank.
      conformalGate(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("conformal_lo") + lit(1e-9), 6).as("conformal_lo"),
          round(col("conformal_hi") + lit(1e-9), 6).as("conformal_hi"))
        .orderBy("l_orderkey", "l_linenumber", "conformal_lo")
    }),

    "q367_conformal_coverage" -> ((s, dir) => {
      // The conformal guarantee, measured: empirical coverage of the
      // q366 intervals on the held-out even orderkeys (one row).
      val t = conformalGate(s, dir)
      t.agg(count(lit(1)).as("n_test"),
        sum(when(col("l_extendedprice").cast("double")
          >= col("conformal_lo") &&
          col("l_extendedprice").cast("double") <= col("conformal_hi"),
          lit(1L)).otherwise(lit(0L))).as("n_covered"))
        .select(col("n_test"), col("n_covered"),
          round(col("n_covered").cast("double") /
            col("n_test").cast("double") + lit(1e-9), 6).as("coverage"))
    }),

    "q363_bleu" -> ((s, dir) => {
      // Next-doc BLEU pairs; every 5th doc scores against itself plus
      // a suffix — one gate exercises the zero-precision path, the
      // BP < 1 branch and high-overlap scores.
      graft.operators.Quality.bleu(bleuGatePairs(s, dir), "text", "__ref",
          maxN = 4).get
        .select(col("doc_id"), col("bleu")).orderBy("doc_id")
    }),

    "q364_rouge" -> ((s, dir) => {
      // ROUGE-2 precision/recall/F1 over the same pair construction.
      graft.operators.Quality.rougeN(bleuGatePairs(s, dir), "text",
          "__ref", n = 2).get
        .select(col("doc_id"), col("rouge2_precision"),
          col("rouge2_recall"), col("rouge2_f1"))
        .orderBy("doc_id")
    }),

    "q360_knn_outlier" -> ((s, dir) => {
      // Distance-based outlier scores: cosine to the 5th nearest
      // neighbor, per point — the k-th ORDER STATISTIC, so the score
      // is exact and engine-replayable (same kernel contract as q38).
      graft.operators.Similarity.knnOutlierScores(
        tbl(s, dir, "embeddings"), "vec_id", "embedding", k = 5).get
        .orderBy("id")
    }),

    "q395_stream_srm" -> ((s, dir) => {
      // STREAMING SRM monitor in 4 real micro-batches: per-day exact
      // (window, arm = event_id mod 3) counts — bounded state, drained
      // counts bit-equal to batch — finished per window against the
      // frozen 1:1:1 design. The oracle replays the whole chain.
      implicit val sp: SparkSession = s
      val ev = events(s, dir)
      val staged =
        s"${System.getProperty("java.io.tmpdir")}/graft_stream_src395"
      ev.withColumn("__arm", pmod(col("event_id"), lit(3)).cast("string"))
        .repartition(4).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val name = "graft_ssrm_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val drained = (for {
        src <- Read.fileStream(staged, "parquet", schema)
        c <- graft.streaming.Stream.windowedArmCounts(src, "ts",
          "1 day", "1 hour", "__arm")
        res <- graft.streaming.Stream.drainToMemory(c, name, "complete")
      } yield res).get
      graft.operators.Stats.srmFromCounts(
          drained.select(col("window.start").as("ws"), col("arm"),
            col("n_obs")),
          Map("0" -> 1.0, "1" -> 1.0, "2" -> 1.0), keys = Seq("ws")).get
        .orderBy("ws", "arm")
    }),

    "q396_quantile_effect" -> ((s, dir) => {
      // Distributional effect readout: the p75 quantity difference
      // (returnflag R vs A) with a deterministic Poisson-bootstrap CI
      // — every pick an exact-integer grid rank, the whole chain
      // replayed by the oracle.
      graft.operators.Stats.quantileEffect(tbl(s, dir, "lineitem"),
        "l_returnflag", "R", "A", "l_quantity",
        idCols = Seq("l_orderkey", "l_linenumber", "l_partkey"),
        p = 0.75, nBoot = 24, alpha = 0.1, salt = "q396").get
    }),

    "q392_did" -> ((s, dir) => {
      // Difference-in-differences on the 2x2 (returnflag R vs A) x
      // (ship year 1997 vs 1995) cells over quantities — exact integer
      // cell sums, one conditional scalar aggregate.
      val li = tbl(s, dir, "lineitem")
        .withColumn("__yr", year(col("l_shipdate")).cast("string"))
      graft.operators.Stats.didEstimator(li, "l_returnflag", "R", "A",
        "__yr", "1997", "1995", "l_quantity", scaleDecimals = 0).get
    }),

    "q393_srm" -> ((s, dir) => {
      // Sample-ratio-mismatch: orderkey mod 3 as the "arm" against a
      // 1:1:1 design — chi-square GOF with exact counts; TPC-H
      // orderkeys are NOT uniform mod 3 (sparse key pattern), so the
      // check fires with a real chi2, which is the point.
      graft.operators.Stats.srmCheck(
          tbl(s, dir, "orders")
            .withColumn("__arm", pmod(col("o_orderkey"), lit(3)).cast("string")),
          "__arm", Map("0" -> 1.0, "1" -> 1.0, "2" -> 1.0)).get
        .orderBy("arm")
    }),

    "q394_post_strat" -> ((s, dir) => {
      // Post-stratified mean price re-weighted to target returnflag
      // shares (0.3/0.5/0.2) — the eval-set debiasing estimator;
      // dollar-rounded exact sums per stratum.
      graft.operators.Stats.postStratifiedMean(tbl(s, dir, "lineitem"),
        "l_extendedprice", "l_returnflag",
        Map("A" -> 0.3, "N" -> 0.5, "R" -> 0.2), scaleDecimals = 0).get
    }),

    "q361_msprt" -> ((s, dir) => {
      // Always-valid sequential p-values (mSPRT) for the running mean
      // discount vs theta0=0.05 per returnflag, ordered by
      // (orderkey, linenumber) — cent-scaled, so the prefix sums are
      // exact integers and the statistic replays term-for-term.
      graft.operators.Stats.msprt(tbl(s, dir, "lineitem"), "l_discount",
        theta0 = 0.05, tau2 = 0.0004,
        orderCols = Seq("l_orderkey", "l_linenumber", "l_discount"),
        keys = Seq("l_returnflag"), scaleDecimals = 2).get
        .orderBy("l_returnflag", "seq")
    }),

    "q362_jackknife_ratio" -> ((s, dir) => {
      // Delete-one-supplier jackknife SE for price-per-unit: the
      // closed form needs no refits — one groupBy, then G-row math.
      graft.operators.Stats.jackknifeRatio(tbl(s, dir, "lineitem"),
        "l_extendedprice", "l_quantity", "l_suppkey",
        numScaleDecimals = 2, denScaleDecimals = 0).get
    }),

    "q359_kcenter" -> ((s, dir) => {
      // Greedy k-center coreset selection (Gonzalez) over the
      // embeddings: 8 rounds, min-id seed, max-min-distance picks.
      // The left-fold squared-L2 is one IEEE op sequence, so the
      // unrolled oracle replays the SELECTION itself bit-for-bit.
      graft.operators.Similarity.kCenterSelect(
        tbl(s, dir, "embeddings"), "vec_id", "embedding", k = 8).get
        .orderBy("round")
    }),

    "q357_kmv_distinct" -> ((s, dir) => {
      // Per-source distinct-3-gram estimates from KMV(64) sketches
      // built at the FINER (source, lang) keys and merged down — the
      // bottom-k merge is lossless, so the oracle replays a DIRECT
      // per-source build (hash, rank <= 64, (k-1)/u_k) term-for-term.
      val sh = tbl(s, dir, "documents").select(col("source"), col("lang"),
        explode(graft.functions.TextFunctions.wordShingles(col("text"), 3))
          .as("g"))
      val sk = graft.operators.Sketch.kmvSketches(
        sh, Seq("source", "lang"), "g", k = 64, salt = "r11").get
      graft.operators.Sketch.kmvMergeEstimate(sk, Seq("source"), k = 64)
        .get.orderBy("source")
    }),

    "q358_kmv_overlap" -> ((s, dir) => {
      // Theta-sketch pairwise source overlap: union/Jaccard/intersection
      // estimates between every source pair from per-source KMV(64)
      // sketches — the set-algebra question HLL cannot answer, and the
      // sketch-budget path of q105's exact overlap report.
      val sh = tbl(s, dir, "documents").select(col("source"),
        explode(graft.functions.TextFunctions.wordShingles(col("text"), 3))
          .as("g"))
      val sk = graft.operators.Sketch.kmvSketches(
        sh, Seq("source"), "g", k = 64, salt = "r11").get
      graft.operators.Sketch.kmvOverlap(sk, "source", k = 64).get
        .orderBy("key_a", "key_b")
    }),

    "q354_bpe_fertility" -> ((s, dir) => {
      // Tokenizer-evaluation one-rower under the frozen 12-merge
      // table: word/char/token totals and the compression ratios.
      val m = Bpe.collectMerges(Bpe.learnMerges(
        tbl(s, dir, "documents"), "text", numMerges = BpeGateMerges).get)
      Bpe.fertilityReport(tbl(s, dir, "documents"), "text", m).get
    }),

    "q355_winsorize" -> ((s, dir) => {
      // Per-flag winsorized prices at [p05, p95] — the exact
      // grid-percentile rank convention replayed; clamped outputs are
      // existing data values, gated unrounded.
      graft.operators.Quality.winsorize(tbl(s, dir, "lineitem"),
          "l_extendedprice", 0.05, 0.95, byCols = Seq("l_returnflag"))
        .get
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice_w"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q353_stream_cdc_novel" -> ((s, dir) => {
      // STREAMING novel-chunk ingestion in 4 REAL micro-batches
      // (q321's staging idiom): arriving docs >= 250 CDC-chunk on the
      // stream (the kernel is a pure projection), chunks already in
      // the frozen sub-250 corpus drop via the stream-static anti
      // join. The q350 boilerplate plant guarantees drops; the oracle
      // replays chunking for BOTH sides and the NOT IN.
      implicit val sp: SparkSession = s
      val aug = tbl(s, dir, "documents").withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"),
            repeat(lit("graft boiler plate segment "), 9)))
          .otherwise(col("text")))
      val staged =
        s"${System.getProperty("java.io.tmpdir")}/graft_stream_src353"
      aug.filter(col("doc_id") >= 250).repartition(4)
        .write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
      val novel = graft.streaming.Stream.cdcNovelChunks(src,
        aug.filter(col("doc_id") < 250), "text", "doc_id").get
      val name = "graft_cdcnovel_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      graft.streaming.Stream.drainToMemory(novel, name).get
        .orderBy("doc_id", "chunk_idx")
    }),

    "q351_dp_counts" -> ((s, dir) => {
      // Noisy (source, lang) release counts: Laplace(1/ε) from the
      // salted portable hash via the inverse CDF — deterministic by
      // design, replayed term-for-term by the oracle.
      graft.operators.Quality.dpCounts(tbl(s, dir, "documents"),
          Seq("source", "lang"), epsilon = 1.0, salt = "r11").get
        .orderBy("source", "lang")
    }),

    "q352_krippendorff" -> ((s, dir) => {
      // Krippendorff's alpha with genuinely unequal rating counts:
      // do an order's lineitems agree on return flag (1-7 lines per
      // order; single-line orders are unpairable and drop — the
      // missing-data contract the kappa family can't express).
      graft.operators.Stats.krippendorffAlpha(tbl(s, dir, "lineitem"),
          "l_orderkey", "l_returnflag").get
        .select(col("n_units"), col("n_ratings"), col("k_categories"),
          round(col("a_obs") + lit(1e-9), 6).as("a_obs"),
          round(col("a_exp") + lit(1e-9), 6).as("a_exp"),
          round(col("alpha") + lit(1e-9), 6).as("alpha"))
    }),

    "q349_cdc_chunks" -> ((s, dir) => {
      // Content-defined chunking over the corpus: md5-window boundary
      // rule, greedy-min fold, max-stride split — every boundary,
      // length and chunk hash replayed position-for-position.
      graft.operators.Cdc.chunks(tbl(s, dir, "documents"), "text",
          "doc_id").get
        .orderBy("doc_id", "chunk_idx")
    }),

    "q350_cdc_dedup" -> ((s, dir) => {
      // Chunk-hash storage dedup: a 243-char boilerplate run planted
      // on every 5th document (q115's augment idiom) must surface as
      // shared content-addressed chunks; counts exact.
      val aug = tbl(s, dir, "documents").withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), repeat(lit("graft boiler plate segment "), 9)))
          .otherwise(col("text")))
      graft.operators.Cdc.dedupReport(aug, "text", "doc_id").get
        .orderBy("chunk_md5")
    }),

    "q347_waterfill_caps" -> ((s, dir) => {
      // Water-filling crawl-budget allocation over per-part lineitem
      // counts: exact integer level search (div, never a product),
      // remainder to the largest keys — Σcap == budget replayed
      // row-for-row by the oracle's window arithmetic.
      graft.operators.Sampling.waterfillCaps(tbl(s, dir, "lineitem"),
          "l_partkey", budget = 30000L).get
        .withColumnRenamed("key", "l_partkey")
        .orderBy("l_partkey")
    }),

    "q348_waterfill_sample" -> ((s, dir) => {
      // The allocation APPLIED: per-key cap-prefix in the salted
      // portable-hash order — the exact kept row set is the gate.
      graft.operators.Sampling.waterfillSample(tbl(s, dir, "lineitem"),
          "l_partkey", budget = 30000L,
          idCols = Seq("l_orderkey", "l_linenumber"), salt = "r11").get
        .select("l_orderkey", "l_linenumber", "l_partkey")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q345_kn_lm" -> ((s, dir) => {
      // Self-trained interpolated Kneser-Ney bigram quality scores —
      // the CCNet-style LM signal with proper continuation smoothing;
      // grids and the probability CASE shape replayed by the oracle.
      graft.operators.LmScore.knBigramScores(
          tbl(s, dir, "documents"), "text", "doc_id").get
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_logprob"), 6).as("avg_logprob"),
          round(col("perplexity"), 4).as("perplexity"))
        .orderBy("doc_id")
    }),

    "q346_kn_lm_split" -> ((s, dir) => {
      // Production split: KN grids fitted on the src0 subcorpus only,
      // every document scored under that frozen model — exercises the
      // unseen-context continuation backoff and the floor on real data.
      val docs = tbl(s, dir, "documents")
      graft.operators.LmScore.knBigramScores(docs, "text", "doc_id",
          train = Some(docs.filter(col("source") === "src0"))).get
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_logprob"), 6).as("avg_logprob"),
          round(col("perplexity"), 4).as("perplexity"))
        .orderBy("doc_id")
    }),

    "q344_bpe_apply" -> ((s, dir) => {
      // Production train/apply split: the 12-merge tokenizer learned
      // on documents is FROZEN (collectMerges export) and applied to
      // a corpus it never saw — part names — via the lazy fold chain;
      // the oracle replays both the learn loop and the apply chain.
      val m = Bpe.collectMerges(Bpe.learnMerges(
        tbl(s, dir, "documents"), "text", numMerges = BpeGateMerges).get)
      Bpe.tokenCountsWith(tbl(s, dir, "part"), "p_name", "p_partkey", m)
        .get.orderBy("p_partkey")
    }),

    "q342_collocations" -> ((s, dir) => {
      // Adjacent-bigram PMI collocations over the documents corpus —
      // exact integer grids, the PMI division shape replayed
      // IEEE-step-for-step by the oracle.
      graft.operators.Keywords.collocations(tbl(s, dir, "documents"),
          "text", minCount = 5L).get
        .orderBy("w1", "w2")
    }),

    "q343_zipf" -> ((s, dir) => {
      // Corpus lexical-health one-rower: Zipf OLS slope/R² over the
      // top-200 terms + hapax and head-mass ratios.
      graft.operators.Quality.zipfReport(tbl(s, dir, "documents"), "text")
        .get
    }),

    "q241_holt" -> ((s, dir) => {
      // Brown's double exponential smoothing (level + trend) of the
      // hourly zero-filled per-type series: two cascaded scalar EWMA
      // folds at α = 0.5, replayed by the oracle with two q191-style
      // list_reduce passes — identical IEEE sequences on both engines.
      val filled = TimeSeries.gapFill(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "ts", Seq("event_type"), bucketSec = 3600L, valueCol = "value",
          how = "sum", fill = "zero").get
      TimeSeries.holt(filled, "bucket_ts", Seq("event_type"), "value").get
        .select(col("event_type"), col("bucket_ts"),
          round(col("value") / 100.0, 4).as("value"),
          round(col("holt_level") / 100.0 + lit(1e-9), 4).as("holt_level"),
          round(col("holt_trend") / 100.0 + lit(1e-9), 4).as("holt_trend"),
          round(col("holt_forecast") / 100.0 + lit(1e-9), 4)
            .as("holt_forecast"))
        .orderBy("event_type", "bucket_ts")
    }),

    "q240_kaplan_meier" -> ((s, dir) => {
      // Product-limit churn curve over per-user lifetimes (last −
      // first active HOUR — hour granularity keeps the duration grid
      // discriminative over the 30-day span), right-censored when the
      // user was still active within 24 h of the corpus edge. Counts
      // exact; the running product is rounded under the tie-shift.
      val ev = events(s, dir).filter(col("ts").isNotNull)
      val hour = floor(col("ts").cast("long") / 3600L).cast("long")
      val per = ev.select(col("user_id"), hour.as("__d"))
        .groupBy("user_id")
        .agg(min(col("__d")).as("__f"), max(col("__d")).as("__l"))
      val maxHour = per.agg(max(col("__l")).as("__m"))
      val lifetimes = per.crossJoin(broadcast(maxHour))
        .select((col("__l") - col("__f")).as("duration"),
          (col("__l") < col("__m") - 24).cast("int").as("observed"))
      Behavior.kaplanMeier(lifetimes, "duration", "observed").get
        .select(col("duration"), col("n_risk"), col("n_events"),
          col("n_censored"),
          round(col("survival") + lit(1e-9), 6).as("survival"),
          round(col("survival_se") + lit(1e-9), 6).as("survival_se"),
          round(col("ci_lo") + lit(1e-9), 6).as("ci_lo"),
          round(col("ci_hi") + lit(1e-9), 6).as("ci_hi"))
        .orderBy("duration")
    }),

    "q244_log_rank" -> ((s, dir) => {
      // Two-cohort churn comparison — even- vs odd-id users' lifetimes
      // (same hour-granularity construction as q240) under the
      // log-rank test. Event/risk counts exact; the hypergeometric
      // moment sums are χ²-tier, rounded under the tie-shift.
      val ev = events(s, dir).filter(col("ts").isNotNull)
      val hour = floor(col("ts").cast("long") / 3600L).cast("long")
      val per = ev.select(col("user_id"), hour.as("__d"))
        .groupBy("user_id")
        .agg(min(col("__d")).as("__f"), max(col("__d")).as("__l"))
      val maxHour = per.agg(max(col("__l")).as("__m"))
      val lifetimes = per.crossJoin(broadcast(maxHour))
        .select((col("__l") - col("__f")).as("duration"),
          (col("__l") < col("__m") - 24).cast("int").as("observed"),
          when(col("user_id") % 2 === 0, lit("even"))
            .otherwise(lit("odd")).as("grp"))
      Behavior.logRank(lifetimes, "duration", "observed", "grp").get
        .select(col("group_a"), col("group_b"), col("obs_a"), col("obs_b"),
          round(col("exp_a") + lit(1e-9), 6).as("exp_a"),
          round(col("exp_b") + lit(1e-9), 6).as("exp_b"),
          round(col("variance") + lit(1e-9), 6).as("variance"),
          round(col("chi2") + lit(1e-9), 6).as("chi2"))
    }),

    "q245_nelson_aalen" -> ((s, dir) => {
      // Cumulative-hazard view of the q240 lifetimes frame: running
      // Σ d/n and its Poisson SE over the same duration grid. Counts
      // exact; hazard sums rounded under the tie-shift.
      val ev = events(s, dir).filter(col("ts").isNotNull)
      val hour = floor(col("ts").cast("long") / 3600L).cast("long")
      val per = ev.select(col("user_id"), hour.as("__d"))
        .groupBy("user_id")
        .agg(min(col("__d")).as("__f"), max(col("__d")).as("__l"))
      val maxHour = per.agg(max(col("__l")).as("__m"))
      val lifetimes = per.crossJoin(broadcast(maxHour))
        .select((col("__l") - col("__f")).as("duration"),
          (col("__l") < col("__m") - 24).cast("int").as("observed"))
      Behavior.nelsonAalen(lifetimes, "duration", "observed").get
        .select(col("duration"), col("n_risk"), col("n_events"),
          col("n_censored"),
          round(col("cum_hazard") + lit(1e-9), 6).as("cum_hazard"),
          round(col("cum_hazard_se") + lit(1e-9), 6).as("cum_hazard_se"))
        .orderBy("duration")
    }),

    "q239_categorical_drift" -> ((s, dir) => {
      // Lang-mix drift between the even-id snapshot and the odd-id
      // snapshot with a planted 'xx' injection every 11th doc: exact
      // grid counts, ε-floored PSI, homogeneity χ² — all replayed on
      // the category grid.
      val docs = tbl(s, dir, "documents")
      val ref = docs.filter(col("doc_id") % 2 === 0)
      val cur = docs.filter(col("doc_id") % 2 === 1)
        .withColumn("lang", when(col("doc_id") % 11 === 0, lit("xx"))
          .otherwise(col("lang")))
      graft.operators.Quality.categoricalDrift(ref, cur, "lang").get
        .orderBy("category")
    }),

    "q253_attribution_credits" -> ((s, dir) => {
      // U-shaped (position-based) multi-touch credits over a 7-day
      // window: counts exact, positional weights exact rationals,
      // per-channel credit sums rounded under the tie-shift.
      Behavior.attributionCredits(events(s, dir), "ts", "event_id",
          "user_id", "event_type", convType = "purchase",
          touchTypes = Seq("view", "click", "signup"),
          windowSec = 604800L, model = "position").get
        .select(col("channel"), col("n_touches"), col("n_conversions"),
          round(col("credit") + lit(1e-9), 6).as("credit"))
        .orderBy("channel")
    }),

    "q248_markov_attribution" -> ((s, dir) => {
      // Data-driven multi-touch attribution over the events stream:
      // first-order chain on pre-conversion paths, 30 synchronous
      // absorption steps, one simultaneous solve for all four channel
      // removals. Probabilities exact rationals; fixed-point sums
      // rounded under the tie-shift.
      Behavior.markovAttribution(events(s, dir), "ts", "event_id",
          "user_id", "event_type", convChannel = "purchase",
          iterations = 30).get
        .select(col("channel"),
          round(col("base_cvr") + lit(1e-9), 6).as("base_cvr"),
          round(col("removed_cvr") + lit(1e-9), 6).as("removed_cvr"),
          round(col("removal_effect") + lit(1e-9), 6).as("removal_effect"),
          round(col("attribution") + lit(1e-9), 6).as("attribution"))
        .orderBy("channel")
    }),

    "q255_entropy_report" -> ((s, dir) => {
      // Per-column entropy/uniqueness dashboard over three documents
      // columns: counts exact, entropy Σ c·ln c and top-share rounded
      // under the tie-shift.
      graft.operators.Quality.entropyReport(tbl(s, dir, "documents"),
          Seq("lang", "source", "n_chars")).get
        .select(col("column"), col("n"), col("n_distinct"),
          round(col("entropy") + lit(1e-9), 6).as("entropy"),
          round(col("top_share") + lit(1e-9), 6).as("top_share"))
        .orderBy("column")
    }),

    "q257_spearman" -> ((s, dir) => {
      // Rank correlation of cent values vs their hundreds bucket —
      // strongly monotone with heavy b-ties, so the midrank machinery
      // is genuinely exercised. Midranks exact dyadics on the grids;
      // rho rounded under the tie-shift.
      val ev = events(s, dir).filter(col("value").isNotNull)
        .select(round(col("value") * 100).as("a"),
          floor(col("value") / 100).as("b"))
      Stats.spearman(ev, "a", "b").get
        .select(col("n"), round(col("rho") + lit(1e-9), 6).as("rho"))
    }),

    "q256_cramers_v" -> ((s, dir) => {
      // Association strength lang×source: the χ² machinery plus the
      // bounded effect size — rounded under the tie-shift.
      Stats.cramersV(tbl(s, dir, "documents"), "lang", "source").get
        .select(col("n"), col("n_rows"), col("n_cols"),
          round(col("chi2") + lit(1e-9), 4).as("chi2"),
          round(col("v") + lit(1e-9), 6).as("v"))
    }),

    "q246_quantile_drift" -> ((s, dir) => {
      // Equal-frequency PSI between the even-id and odd-id document
      // snapshots with a planted 3× length inflation on every 5th odd
      // doc: decile edges are exact order statistics of the REF side,
      // so both engines bin identically; PSI rounded under tie-shift.
      val docs = tbl(s, dir, "documents").filter(col("n_chars").isNotNull)
      val ref = docs.filter(col("doc_id") % 2 === 0)
      val cur = docs.filter(col("doc_id") % 2 === 1)
        .withColumn("n_chars",
          when(col("doc_id") % 5 === 0, col("n_chars") * 3)
            .otherwise(col("n_chars")))
      graft.operators.Quality.quantileDrift(ref, cur, "n_chars",
          nBins = 10).get
        .orderBy("bin")
    }),

    "q247_referential_integrity" -> ((s, dir) => {
      // Orphan screen on orders→customer with planted damage: every
      // 89th order's custkey NULLed, every 97th pointed past the
      // customer domain. All counts exact.
      val child = tbl(s, dir, "orders")
        .select(when(col("o_orderkey") % 89 === 0, lit(null))
          .when(col("o_orderkey") % 97 === 0, col("o_custkey") + 1000000)
          .otherwise(col("o_custkey")).as("k"))
      graft.operators.Quality.referentialIntegrity(child, "k",
        tbl(s, dir, "customer"), "c_custkey").get
    }),

    "q243_percentiles" -> ((s, dir) => {
      // Exact order statistics of document lengths at 7 cut points —
      // the reproducible-threshold primitive; rank arithmetic and the
      // grid pick replayed exactly (no approximation anywhere).
      graft.operators.Quality.percentiles(tbl(s, dir, "documents"),
          "n_chars", Seq(0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)).get
        .orderBy("p")
    }),

    "q280_containment_pairs" -> ((s, dir) => {
      // Asymmetric containment near-dups over distinct 5-gram sets
      // (gram-keyed candidates, capped vocab). Counts exact; the
      // containments are rounded inside the operator (threshold and
      // output are defined on the rounded value).
      graft.operators.Dedup.containmentPairs(tbl(s, dir, "documents"),
          "text", "doc_id", n = 5, threshold = 0.5, maxGramDf = 50L).get
        .orderBy("id_a", "id_b")
    }),

    "q281_containment_cap_report" -> ((s, dir) => {
      // What a df>100 cap would drop from a UNIGRAM containment run —
      // the stop-word mass. Counts exact.
      graft.operators.Dedup.containmentCapReport(tbl(s, dir, "documents"),
        "text", "doc_id", n = 1, maxGramDf = 100L).get
    }),

    "q282_kendall_tau" -> ((s, dir) => {
      // Kendall τ-b of quantity vs discount: both domains are small
      // (50 × 11 values → ≤550 grid cells), the quadratic runs over
      // cells. Pair counts exact longs; τ is one IEEE divide/sqrt of
      // exact-integer-valued doubles — gated UNROUNDED.
      Stats.kendallTau(tbl(s, dir, "lineitem"),
        "l_quantity", "l_discount").get
    }),

    "q283_cliffs_delta" -> ((s, dir) => {
      // Cliff's δ, click vs view: the q206 value grid, exact cross-
      // pair counts, one IEEE division — gated unrounded.
      Stats.cliffsDelta(events(s, dir), "value", "event_type",
        "click", "view").get
    }),

    "q284_mcnemar" -> ((s, dir) => {
      // Paired per-user screen: did the user ever click > 300 vs ever
      // view > 300. Cells exact; χ² divides exact ints (unrounded);
      // the exact binomial tail sums lgamma terms — rounded.
      val u = events(s, dir).filter(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(coalesce(max(when(col("event_type") === "click",
            col("value"))) > 300, lit(false)).as("bf"),
          coalesce(max(when(col("event_type") === "view",
            col("value"))) > 300, lit(false)).as("af"))
      Stats.mcnemar(u, "bf", "af").get
        .select(col("n"), col("a"), col("b"), col("c"), col("d"),
          col("chi2"), round(col("p_exact") + lit(1e-9), 6).as("p_exact"))
    }),

    "q285_cochran_q" -> ((s, dir) => {
      // Cochran's Q: did "any event > 350" differ across the 5 event
      // types each user generated? All-integer moments — Q divides
      // exact longs, gated unrounded.
      Stats.cochranQ(
        events(s, dir).withColumn("hi", col("value") > 350),
        "user_id", "event_type", "hi").get
    }),

    "q286_hodges_lehmann" -> ((s, dir) => {
      // HL shift estimate, click vs view, on integer-rounded values
      // (the distinct-difference grid stays bounded). Positions exact;
      // the shift averages two grid doubles — gated unrounded.
      Stats.hodgesLehmann(
        events(s, dir).withColumn("v", round(col("value"))),
        "v", "event_type", "click", "view").get
    }),

    "q287_bayesian_ab" -> ((s, dir) => {
      // Beta-Binomial posterior P(view beats click) for the >300
      // conversion metric under uniform priors. Counts and posterior
      // means exact; the probability sums lgamma terms — rounded.
      Stats.bayesianAB(
          events(s, dir).withColumn("hi", col("value") > 300),
          "hi", "event_type", "click", "view").get
        .select(col("n_a"), col("s_a"), col("n_b"), col("s_b"),
          col("mean_a"), col("mean_b"),
          round(col("prob_b_beats_a") + lit(1e-9), 6).as("prob_b_beats_a"),
          round(col("expected_lift") + lit(1e-9), 6).as("expected_lift"))
    }),

    "q288_power_mde" -> ((s, dir) => {
      // Detectable-effect readout at current sample sizes + required n
      // for a 10% relative lift. Pure IEEE chain of exact counts with
      // explicit z constants — gated unrounded.
      Stats.powerMde(
        events(s, dir).withColumn("hi", col("value") > 300),
        "hi", "event_type", "click", "view").get
    }),

    "q289_mann_kendall" -> ((s, dir) => {
      // Per-user Mann-Kendall monotone-trend test (the q268 Theil-Sen
      // companion): S and the tie-corrected variance moments are exact
      // integers, z one IEEE sqrt/divide — gated unrounded.
      TimeSeries.mannKendall(events(s, dir), Seq("user_id"),
          "ts", "value", scale = 100L, maxPoints = 1000).get
        .orderBy("user_id")
    }),

    "q290_readability" -> ((s, dir) => {
      // Flesch / FK-grade per document from three portable regex
      // counts; the scores are IEEE chains of exact-long ratios —
      // gated unrounded.
      graft.operators.Quality.readability(tbl(s, dir, "documents"),
          "text", Seq("doc_id")).get
        .orderBy("doc_id")
    }),

    "q291_mad_outliers" -> ((s, dir) => {
      // Median/MAD modified-z outlier report per event type — exact
      // grid medians; z rounded at 9 BEFORE the 3.5 threshold (the
      // rounded-threshold convention), so the counts are exact.
      graft.operators.Quality.madOutliers(events(s, dir), "value",
          Seq("event_type")).get
        .orderBy("event_type")
    }),

    "q294_cohort_ltv" -> ((s, dir) => {
      // Weekly cohort LTV curves: exact x100 revenue sums, exact
      // running cumulative, one IEEE chain for ltv - gated unrounded.
      Behavior.cohortLtv(events(s, dir), "ts", "user_id", "value",
          bucketSec = 604800L).get
        .orderBy("cohort_ts", "age")
    }),

    "q295_page_hinkley" -> ((s, dir) => {
      // Page-Hinkley upward-drift monitor over the zero-filled hourly
      // grid (delta 0, lambda 500): prefix sums exact, the m-fold a
      // sequential float accumulation the oracle replays as a left
      // fold; outputs rounded, alarm on the rounded-at-9 ph.
      val gf = TimeSeries.gapFill(
        events(s, dir).withColumn("value", round(col("value") * 100)),
        "ts", Seq("event_type"), bucketSec = 3600L, valueCol = "value",
        how = "sum", fill = "zero").get
      TimeSeries.pageHinkley(gf, Seq("event_type"), "bucket_ts", "value",
          delta = 0.0, lambda = 500.0, scale = 1L).get
        .select(col("event_type"), col("bucket_ts"), col("value"),
          round(col("ph_m") + lit(1e-9), 4).as("ph_m"),
          round(col("ph") + lit(1e-9), 4).as("ph"), col("alarm"))
        .orderBy("event_type", "bucket_ts")
    }),

    "q296_jonckheere" -> ((s, dir) => {
      // Ordered-alternative trend test across the 5 event types
      // (alphabetical order): J and every moment exact; the variance
      // terms are IEEE divisions in a fixed mirrored order - gated
      // unrounded.
      Stats.jonckheereTerpstra(
        events(s, dir).withColumn("band", floor(col("value") / 10)),
        "band", "event_type").get
    }),

    "q316_fleiss_kappa" -> ((s, dir) => {
      // Fleiss' kappa over each user's first three event types (every
      // user has >= 3 events, so the constant-n design holds): all-
      // integer moments into one IEEE chain - gated unrounded.
      val ranked = events(s, dir).filter(col("user_id").isNotNull)
        .withColumn("__r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id")
            .orderBy(unix_micros(col("ts")), col("event_id"))))
        .filter(col("__r") <= 3)
      Stats.fleissKappa(ranked, "user_id", "event_type").get
    }),

    "q314_attr_assortativity" -> ((s, dir) => {
      // Do supplier-graph edges prefer same-(node % 4) endpoints?
      // Exact cell counts into one IEEE chain - gated unrounded.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 150L).get
      val sym = proj.select("src", "dst").union(
        proj.select(col("dst").as("src"), col("src").as("dst")))
      val labels = sym.select(col("src").as("node"))
        .union(sym.select(col("dst").as("node"))).distinct()
        .withColumn("c", col("node") % 4)
      Graph.attributeAssortativity(sym, "src", "dst", labels,
        "node", "c").get
    }),

    "q315_cohens_kappa" -> ((s, dir) => {
      // Agreement between the langid heuristic and the lang column -
      // exact cells, one IEEE chain, gated unrounded.
      Stats.cohensKappa(
        tbl(s, dir, "documents").withColumn("lang_pred",
          TextFunctions.langId(col("text"))),
        "lang", "lang_pred").get
    }),

    "q312_confusion" -> ((s, dir) => {
      // Confusion matrix of the heuristic language-ID against the lang
      // ground truth - counts and shares exact.
      val docs = tbl(s, dir, "documents")
      graft.operators.Quality.confusionMatrix(
          docs.withColumn("lang_pred",
            TextFunctions.langId(col("text"))),
          "lang", "lang_pred").get
        .orderBy("truth", "pred")
    }),

    "q313_calibration" -> ((s, dir) => {
      // Reliability curve: score = value/500 clamped to [0,1], outcome
      // = value > 300. Counts/rate exact; mean_score rounded.
      graft.operators.Quality.calibrationCurve(
          events(s, dir)
            .withColumn("score", least(lit(1.0), col("value") / 500))
            .withColumn("hit", col("value") > 300),
          "score", "hit", nBins = 10).get
        .select(col("bin"), col("bin_lo"), col("bin_hi"), col("n"),
          col("n_pos"),
          round(col("mean_score") + lit(1e-9), 6).as("mean_score"),
          col("rate"))
        .orderBy("bin")
    }),

    "q310_embedding_health" -> ((s, dir) => {
      // Embedding hygiene screen: counts exact; norms are per-row
      // sequential folds (floats cast to double before squaring) and
      // the percentile picks exact order stats - norm stats rounded.
      graft.operators.Similarity.embeddingHealth(
          tbl(s, dir, "embeddings"), "embedding").get
        .select(col("n"), col("n_null"), col("n_zero_norm"),
          col("n_dims"), col("dim_min"), col("dim_max"),
          round(col("norm_p50") + lit(1e-9), 6).as("norm_p50"),
          round(col("norm_p95") + lit(1e-9), 6).as("norm_p95"))
    }),

    "q311_containment_against" -> ((s, dir) => {
      // Cross-corpus containment (odd docs vs even reference): the
      // q280 device with the df cap computed on the REFERENCE side.
      val docs = tbl(s, dir, "documents")
      graft.operators.Dedup.containmentPairsAgainst(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "text", "doc_id", n = 5, threshold = 0.5, maxGramDf = 50L).get
        .orderBy("id_new", "id_ref")
    }),

    "q307_one_sample_t" -> ((s, dir) => {
      // One-sample t of click values vs target 245.00 (x100 exact
      // moments): IEEE chain of exact sums - gated unrounded.
      Stats.oneSampleTTest(
          events(s, dir).filter(col("event_type") === "click")
            .withColumn("value", round(col("value") * 100)),
          "value", mu0 = 24500.0).get
        .select(col("n"), (col("mean") / 100).as("mean"),
          (col("var") / 10000).as("var"), (col("se") / 100).as("se"),
          col("t"), col("df"))
    }),

    "q308_conversion_lag" -> ((s, dir) => {
      // Time-to-conversion percentiles per channel over the q209
      // attribution: exact ceil(p*n) order statistics - unrounded.
      Behavior.conversionLag(events(s, dir), "ts", "event_id", "user_id",
          "event_type", convType = "purchase",
          touchTypes = Seq("click", "view"), windowSec = 259200L).get
        .orderBy("touch_type", "p")
    }),

    "q309_kfold" -> ((s, dir) => {
      // Deterministic 5-fold assignment by doc hash - pure projection.
      graft.operators.Sampling.kfoldByHash(tbl(s, dir, "documents"),
          k = 5, idCols = Seq("doc_id")).get
        .select(col("doc_id"), col("fold"))
        .orderBy("doc_id")
    }),

    "q306_stream_drift" -> ((s, dir) => {
      // STREAMING Page-Hinkley with exact batch parity: the state
      // machine replays the q295 arithmetic per event in (ts, id)
      // order; the oracle recomputes it in SQL with the same fold.
      implicit val sp: SparkSession = s
      import s.implicits._
      val staged =
        s"${System.getProperty("java.io.tmpdir")}/graft_stream_src306"
      events(s, dir).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val name = "graft_drift_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val out = (for {
        src <- Read.fileStream(staged, "parquet", schema)
        typed = src.filter(col("value").isNotNull &&
            col("event_type").isNotNull && col("ts").isNotNull)
          .select(col("event_type"), col("event_id"), col("value"),
            col("ts"))
          .as[(String, Long, Double, java.sql.Timestamp)]
        drift <- graft.streaming.Stream.driftMonitor(typed,
          delta = 0.0, lambda = 500.0, scale = 100L)
        res <- graft.streaming.Stream.drainToMemory(drift.toDF(), name)
      } yield res).get
      out.select(col("key").as("event_type"), col("id").as("event_id"),
          col("value"), round(col("ph_m") + lit(1e-9), 4).as("ph_m"),
          round(col("ph") + lit(1e-9), 4).as("ph"), col("alarm"))
        .orderBy("event_type", "event_id")
    }),

    "q321_stream_neardup" -> ((s, dir) => {
      // STREAMING near-dup vs the frozen sub-250 corpus, processed in 4
      // REAL micro-batches (maxFilesPerTrigger=1 over 4 staged files):
      // the stateless stream-static band join must reproduce the q101
      // batch pair set row-for-row — the oracle is the same exact cross
      // shingle-Jaccard (banding recall 1 at this threshold, q34's
      // argument; first-matching-band dedup emits each pair once).
      implicit val sp: SparkSession = s
      val docs = tbl(s, dir, "documents")
      val staged =
        s"${System.getProperty("java.io.tmpdir")}/graft_stream_src321"
      docs.filter(col("doc_id") >= 250).repartition(4)
        .write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
      val name = "graft_neardup_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val hits = graft.streaming.Stream.neardupAgainst(src,
        docs.filter(col("doc_id") < 250), "text", "doc_id",
        shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5).get
      graft.streaming.Stream.drainToMemory(hits, name).get
        .orderBy("idNew", "idRef")
    }),

    "q304_conductance" -> ((s, dir) => {
      // Cut quality of a (node % 4) labeling over the symmetric
      // supplier graph: all counts exact, conductance one IEEE
      // division - gated unrounded.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 150L).get
      val sym = proj.select("src", "dst").union(
        proj.select(col("dst").as("src"), col("src").as("dst")))
      val labels = sym.select(col("src").as("node"))
        .union(sym.select(col("dst").as("node"))).distinct()
        .withColumn("community", col("node") % 4)
      Graph.conductance(sym, "src", "dst", labels, "node",
          "community").get
        .orderBy("community")
    }),

    "q305_stl_anomaly" -> ((s, dir) => {
      // Seasonal-aware anomalies over the q233 decomposition: robust
      // residual z against per-type median/MAD; flag on the
      // rounded-at-9 z (boundary convention); outputs descaled and
      // rounded.
      val filled = TimeSeries.gapFill(
        events(s, dir).withColumn("value", round(col("value") * 100)),
        "ts", Seq("event_type"), bucketSec = 3600L, valueCol = "value",
        how = "sum", fill = "zero").get
      TimeSeries.stlAnomaly(filled, "bucket_ts", Seq("event_type"),
          "value", period = 24, threshold = 3.5).get
        .select(col("event_type"), col("bucket_ts"),
          round(col("value") / 100.0, 4).as("value"),
          round(col("residual") / 100.0 + lit(1e-9), 4).as("residual"),
          round(col("z") + lit(1e-9), 4).as("z"), col("anomaly"))
        .orderBy("event_type", "bucket_ts")
    }),

    "q302_negative_sample" -> ((s, dir) => {
      // Ratio-coupled negative sampling (0.5 negatives per long-doc
      // positive, threshold 400 chars) via the portable-hash draw -
      // fully deterministic.
      graft.operators.Sampling.negativeSample(
          tbl(s, dir, "documents").withColumn("label",
            col("n_chars") > 400),
          "label", ratio = 0.5, idCols = Seq("doc_id")).get
        .select(col("doc_id"), col("label"))
        .orderBy("doc_id")
    }),

    "q303_permutation" -> ((s, dir) => {
      // 200-round randomization test, click vs view (x100 exact sums;
      // md5 Bernoulli reassignment): the p-value is an exact count
      // ratio - gated unrounded; diff_obs descaled and rounded.
      Stats.permutationTest(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "value", "event_type", "click", "view",
          idCols = Seq("event_id"), rounds = 200).get
        .select(col("n_a"), col("n_b"), col("rounds"),
          round(col("diff_obs") / 100 + lit(1e-9), 4).as("diff_obs"),
          col("p_value"))
    }),

    "q299_seasonal_strength" -> ((s, dir) => {
      // Hyndman seasonal/trend strength over the q233 decomposition:
      // variance ratios are float-tier - rounded at 4 under the
      // tie-shift.
      val filled = TimeSeries.gapFill(
        events(s, dir).withColumn("value", round(col("value") * 100)),
        "ts", Seq("event_type"), bucketSec = 3600L, valueCol = "value",
        how = "sum", fill = "zero").get
      TimeSeries.seasonalStrength(filled, "bucket_ts", Seq("event_type"),
          "value", period = 24).get
        .select(col("event_type"), col("n_complete"),
          round(col("seasonal_strength") + lit(1e-9), 4)
            .as("seasonal_strength"),
          round(col("trend_strength") + lit(1e-9), 4).as("trend_strength"))
        .orderBy("event_type")
    }),

    "q300_tost" -> ((s, dir) => {
      // Equivalence TOST with a +/-5.00 margin (x100 units): the q204
      // exact-moment tier; t stats scale-invariant, means/se descale.
      Stats.tost(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "value", "event_type", "click", "view",
          marginLow = -500.0, marginHigh = 500.0).get
        .select(col("n_a"), col("n_b"),
          round(col("mean_a") / 100 + lit(1e-9), 4).as("mean_a"),
          round(col("mean_b") / 100 + lit(1e-9), 4).as("mean_b"),
          round(col("diff") / 100 + lit(1e-9), 4).as("diff"),
          round(col("se") / 100 + lit(1e-9), 4).as("se"),
          round(col("df") + lit(1e-9), 4).as("df"),
          round(col("t_lower") + lit(1e-9), 4).as("t_lower"),
          round(col("t_upper") + lit(1e-9), 4).as("t_upper"))
    }),

    "q301_apply_changes" -> ((s, dir) => {
      // CDC snapshot: highest-seq op per user wins, purchases act as
      // deletes. Pure window + filter - exact.
      val log = events(s, dir).filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_id").as("seq"),
          when(col("event_type") === "purchase", "D").otherwise("U")
            .as("op"),
          col("value"))
      graft.operators.Merge.applyChanges(log, Seq("user_id"), "seq", "op")
        .get.orderBy("user_id")
    }),

    "q297_wilcoxon" -> ((s, dir) => {
      // Paired per-user click-total vs view-total (x100 exact):
      // midranks exact dyadics, rank sums exact half-integer sums -
      // gated unrounded (the q206 determinism tier).
      val u = events(s, dir).filter(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(coalesce(sum(when(col("event_type") === "click",
            round(col("value") * 100))), lit(0.0)).as("bf"),
          coalesce(sum(when(col("event_type") === "view",
            round(col("value") * 100))), lit(0.0)).as("af"))
      Stats.wilcoxonSignedRank(u, "bf", "af").get
    }),

    "q298_betweenness" -> ((s, dir) => {
      // Landmark betweenness (Brandes from the 3 smallest nodes) over
      // the symmetric supplier co-occurrence graph: sigma counts
      // exact; the delta accumulation sums floats - rounded.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 150L).get
      val sym = proj.select("src", "dst").union(
        proj.select(col("dst").as("src"), col("src").as("dst")))
      val lm = sym.select(col("src").as("node"))
        .union(sym.select(col("dst").as("node")))
        .distinct().orderBy("node").limit(3)
      Graph.betweenness(sym, "src", "dst", lm, "node", maxDepth = 6).get
        .select(col("node"),
          round(col("betweenness") + lit(1e-9), 6).as("betweenness"))
        .orderBy("node")
    }),

    "q293_textrank" -> ((s, dir) => {
      // Corpus TextRank over the adjacent-token co-occurrence graph:
      // exact-BIGINT PageRank mass, deterministic (rank DESC, token)
      // top-15 — the oracle replays the full 3-iteration recursion.
      graft.operators.Keywords.textrank(tbl(s, dir, "documents"),
        "doc_id", "text", window = 2, iterations = 3, topK = 15).get
    }),

    "q292_dtw_pairs" -> ((s, dir) => {
      // DTW distances between the 5 event-type hourly-profile series
      // (24-point, zero-filled, ×100-exact): the DP runs inside
      // whole-stage codegen; every cell is an exact integer-valued
      // double — gated unrounded against the unrolled-DP oracle.
      val ev = events(s, dir)
      val cells = ev.filter(col("ts").isNotNull)
        .groupBy(col("event_type"), hour(col("ts")).as("h"))
        .agg(sum(round(col("value") * 100)).as("v"))
      val grid = ev.select("event_type").distinct()
        .crossJoin(s.range(0, 24).select(col("id").cast("int").as("h")))
      val filled = grid.join(cells, Seq("event_type", "h"), "left")
        .withColumn("v", coalesce(col("v"), lit(0.0)))
      val series = TimeSeries.toSeries(filled, Seq("event_type"),
        "h", "v").get
      TimeSeries.dtwPairs(series, "event_type", "series").get
        .orderBy("key_a", "key_b")
    }),

    "q278_forecast_backtest" -> ((s, dir) => {
      // Naive / seasonal-naive backtest over the hourly zero-filled
      // per-type grid (period 24, final day held out). MASE is a
      // chain of IEEE divisions of exact integers — gated UNROUNDED;
      // sMAPE sums float ratios — rounded under the tie-shift.
      val filled = TimeSeries.gapFill(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "ts", Seq("event_type"), bucketSec = 3600L, valueCol = "value",
          how = "sum", fill = "zero").get
      TimeSeries.forecastBacktest(filled, Seq("event_type"), "bucket_ts",
          "value", period = 24, horizon = 24, scale = 1L).get
        .select(col("event_type"), col("n_train"), col("horizon"),
          round(col("smape_naive") + lit(1e-9), 6).as("smape_naive"),
          col("mase_naive"),
          round(col("smape_snaive") + lit(1e-9), 6).as("smape_snaive"),
          col("mase_snaive"))
        .orderBy("event_type")
    }),

    "q279_outlier_report" -> ((s, dir) => {
      // Tukey-fence outlier screen over three lineitem measures —
      // exact order-statistic quartiles, IEEE fence arithmetic, exact
      // counts: gated unrounded.
      graft.operators.Quality.outlierReport(tbl(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount")).get
        .orderBy("column")
    }),

    "q277_conversion_series" -> ((s, dir) => {
      // Daily view->purchase conversion with Wilson 95% bands. Counts
      // exact; the interval chain is fixed-op-order IEEE from exact
      // ints, rounded under the tie-shift by convention.
      graft.operators.Behavior.conversionSeries(events(s, dir), "ts",
          "user_id", "event_type", "view", "purchase",
          bucketSec = 86400L).get
        .select(col("bucket_ts"), col("n"), col("k"),
          round(col("rate") + lit(1e-9), 6).as("rate"),
          round(col("ci_low") + lit(1e-9), 6).as("ci_low"),
          round(col("ci_high") + lit(1e-9), 6).as("ci_high"))
        .orderBy("bucket_ts")
    }),

    "q276_rake_keywords" -> ((s, dir) => {
      // RAKE keyphrases, top 3 per document. Word scores are exact
      // int divisions; phrase sums rounded inside the operator (the
      // rank is defined on the rounded score).
      graft.operators.Keywords.rake(tbl(s, dir, "documents"),
          "doc_id", "text", stopwords = rakeStops, topK = 3).get
        .select(col("doc_id"), col("phrase"), col("score"),
          col("rank").cast("bigint").as("rank"))
        .orderBy("doc_id", "rank", "phrase")
    }),

    "q275_core_number" -> ((s, dir) => {
      // Full core decomposition (coreness per node) of the supplier
      // co-occurrence graph via H-index propagation. All-integer,
      // gated exact.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 150L).get
      Graph.coreNumber(proj, "src", "dst").get.orderBy("node")
    }),

    "q274_ktruss" -> ((s, dir) => {
      // 4-truss backbone of the supplier co-occurrence graph: every
      // surviving edge sits in >= 2 triangles among survivors. Counts
      // exact; oracle is the generated unrolled peeling.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 150L).get
      Graph.kTruss(proj, "src", "dst", k = 4).get.orderBy("src", "dst")
    }),

    "q271_anderson_darling" -> ((s, dir) => {
      // Two-sample Anderson-Darling (click vs view values) over the
      // distinct-value grid. Counts exact; the term sum is χ²-tier,
      // rounded under the tie-shift.
      graft.operators.Stats.andersonDarling(events(s, dir), "value",
          "event_type", "click", "view").get
        .select(col("n_a"), col("n_b"),
          round(col("a2") + lit(1e-9), 6).as("a2"))
    }),

    "q272_weighted_sample" -> ((s, dir) => {
      // Global A-ES weighted draw: 60 documents by n_chars weight.
      // Keys are rounded exact-dyadic exponential draws; the oracle
      // replays the md5 -> uniform -> key chain verbatim.
      graft.operators.Sampling.weightedByHash(
          tbl(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          Seq("doc_id"), "n_chars", k = 60, seed = "r9").get
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("sample_key"),
          col("sample_rank").cast("bigint").as("sample_rank"))
        .orderBy("sample_rank")
    }),

    "q273_weighted_sample_strata" -> ((s, dir) => {
      // Per-language A-ES draw, 10 docs per stratum — the partitioned-
      // window path of the same sampler.
      graft.operators.Sampling.weightedByHash(
          tbl(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          Seq("doc_id"), "n_chars", k = 10, seed = "r9",
          strataCols = Seq("lang")).get
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("sample_key"),
          col("sample_rank").cast("bigint").as("sample_rank"))
        .orderBy("lang", "sample_rank")
    }),

    "q270_holt_winters" -> ((s, dir) => {
      // Seasonal (period-24) Holt-Winters over the hourly zero-filled
      // per-type series: the q233 seasonal indices deseasonalize, the
      // q241 Brown cascade smooths, the index adds back. χ²-tier
      // seasonal noise decays through the cascade; rounded at 4 under
      // the tie-shift.
      val filled = TimeSeries.gapFill(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "ts", Seq("event_type"), bucketSec = 3600L, valueCol = "value",
          how = "sum", fill = "zero").get
      TimeSeries.holtWinters(filled, "bucket_ts", Seq("event_type"),
          "value", period = 24).get
        .select(col("event_type"), col("bucket_ts"), col("phase"),
          round(col("value") / 100.0, 4).as("value"),
          round(col("seasonal") / 100.0 + lit(1e-9), 4).as("seasonal"),
          round(col("hw_level") / 100.0 + lit(1e-9), 4).as("hw_level"),
          round(col("hw_trend") / 100.0 + lit(1e-9), 4).as("hw_trend"),
          round(col("hw_fitted") / 100.0 + lit(1e-9), 4).as("hw_fitted"))
        .orderBy("event_type", "bucket_ts")
    }),

    "q267_changepoint" -> ((s, dir) => {
      // Per-user mean-shift changepoint over the event stream —
      // exact-integer prefix sums make every candidate gain a
      // deterministic IEEE expression, so the whole row (index, ts,
      // means, gain) is gated UNROUNDED.
      graft.operators.TimeSeries.changepoint(events(s, dir), Seq("user_id"),
          "ts", "value", scale = 100L, minSegment = 5).get
        .orderBy("user_id")
    }),

    "q268_theil_sen" -> ((s, dir) => {
      // Per-user Theil-Sen robust slope (value units per second):
      // every pairwise slope is one IEEE division of exact integers;
      // gated unrounded.
      graft.operators.TimeSeries.theilSen(events(s, dir), Seq("user_id"),
          "ts", "value", scale = 100L, maxPoints = 1000).get
        .orderBy("user_id")
    }),

    "q269_reciprocity" -> ((s, dir) => {
      // Reciprocity of the directed part->supplier edge set (supplier
      // ids are also valid part ids, so mutual pairs exist). Counts
      // exact; the ratio is one IEEE division, gated unrounded.
      graft.operators.Graph.reciprocity(tbl(s, dir, "lineitem"),
        "l_partkey", "l_suppkey").get
    }),

    "q266_cuped" -> ((s, dir) => {
      // CUPED variance-reduced A/B readout: per-user pre-period
      // (Jan 1-15) value sum as the covariate, post-period sum as the
      // metric, user parity as the arm. Unit sums are exact ×100
      // integers; the covariance-tier outputs rounded under the
      // tie-shift.
      val ev = events(s, dir)
      val cents = expr("CAST(round(value * 100) AS BIGINT)")
      val split = lit("2024-01-16").cast("timestamp")
      val units = ev.groupBy("user_id").agg(
          sum(when(col("ts") < split, cents).otherwise(0L)).as("x"),
          sum(when(col("ts") >= split, cents).otherwise(0L)).as("y"))
        .withColumn("grp", (col("user_id") % 2).cast("string"))
      graft.operators.Stats.cuped(units, "grp", "y", "x", "1", "0").get
        .select(col("n_treat"), col("n_ctrl"),
          round(col("theta") + lit(1e-9), 6).as("theta"),
          round(col("effect_raw") + lit(1e-9), 4).as("effect_raw"),
          round(col("se_raw") + lit(1e-9), 4).as("se_raw"),
          round(col("effect_cuped") + lit(1e-9), 4).as("effect_cuped"),
          round(col("se_cuped") + lit(1e-9), 4).as("se_cuped"),
          round(col("var_reduction") + lit(1e-9), 6).as("var_reduction"))
    }),

    "q263_benford_digits" -> ((s, dir) => {
      // First-digit grid of the price column (as integral cents) vs
      // Benford's law — the synthetic-uniform prices deviate, which is
      // exactly the screen's point. Counts exact; shares and log10
      // expectations rounded under the tie-shift.
      val li = tbl(s, dir, "lineitem")
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      graft.operators.Quality.benfordReport(li, "cents").get
        .select(col("digit"), col("n"),
          round(col("p_obs") + lit(1e-9), 6).as("p_obs"),
          round(col("p_exp") + lit(1e-9), 6).as("p_exp"),
          round(col("abs_dev") + lit(1e-9), 6).as("abs_dev"))
        .orderBy("digit")
    }),

    "q264_benford_stat" -> ((s, dir) => {
      // One-row Benford conformity summary: chi2 vs the law, Nigrini
      // MAD. Count exact; stats rounded under the tie-shift.
      val li = tbl(s, dir, "lineitem")
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      graft.operators.Quality.benfordStat(li, "cents").get
        .select(col("n_rows"),
          round(col("chi2") + lit(1e-9), 4).as("chi2"),
          round(col("mad") + lit(1e-9), 6).as("mad"))
    }),

    "q265_fd_screen" -> ((s, dir) => {
      // Functional-dependency screen: two violated deps on lineitem
      // (synthetic lineitems repeat (orderkey, linenumber)), one
      // holding dep on orders (o_orderkey is unique). Counts exact.
      val li = tbl(s, dir, "lineitem")
      val ord = tbl(s, dir, "orders")
      graft.operators.Quality.functionalDependencyScreen(li, Seq(
          Seq("l_orderkey") -> "l_returnflag",
          Seq("l_orderkey", "l_linenumber") -> "l_partkey")).get
        .unionByName(graft.operators.Quality.functionalDependencyScreen(
          ord, Seq(Seq("o_orderkey") -> "o_custkey")).get)
        .orderBy("lhs", "rhs")
    }),

    "q260_jaro_winkler" -> ((s, dir) => {
      // Value-parity gate for the native Jaro-Winkler kernel: every
      // part name scored against a char-dropped and a reversed variant
      // — 2000 diverse (length, matches, transpositions, prefix)
      // shapes. Rounded under the tie-shift (scores are rationals;
      // ulp noise only).
      val p = tbl(s, dir, "part")
      val dirty = expr("concat(substring(p_name, 1, 7), substring(p_name, 9))")
      p.select(col("p_partkey"),
          round(graft.functions.TextFunctions.jaroWinkler(col("p_name"), dirty)
            + lit(1e-9), 6).as("jw_dirty"),
          round(graft.functions.TextFunctions.jaroWinkler(col("p_name"),
            reverse(col("p_name"))) + lit(1e-9), 6).as("jw_rev"))
        .orderBy("p_partkey")
    }),

    "q261_record_linkage" -> ((s, dir) => {
      // Blocked fuzzy record linkage: part names vs a char-dropped
      // dirty copy, prefix-2 blocking, best match per left at
      // threshold 0.9. Scores rounded inside the operator (rank and
      // threshold are defined on the rounded value — see Linkage
      // scaladoc); rank cast to the oracle's BIGINT row_number.
      val p = tbl(s, dir, "part")
      val left = p.select(col("p_partkey").as("lid"), col("p_name").as("nm"))
      val right = p.select((col("p_partkey") + 10000000L).as("rid"),
        expr("concat(substring(p_name, 1, 7), substring(p_name, 9))").as("nm"))
      graft.operators.Linkage.linkage(left, right, "lid", "rid", "nm", "nm",
          threshold = 0.9, topPerLeft = 1).get
        .select(col("lid"), col("rid"), col("score"),
          col("rank").cast("bigint").as("rank"))
        .orderBy("lid")
    }),

    "q262_linkage_cap_report" -> ((s, dir) => {
      // What a maxBlockSize=250 cap would drop from the linkage above:
      // the four hot prefix-2 blocks. Counts exact.
      graft.operators.Linkage.linkageCapReport(
        tbl(s, dir, "part"), "p_name",
        graft.operators.Linkage.prefixBlocker(2), maxBlockSize = 250).get
    }),

    "q259_embedding_drift" -> ((s, dir) => {
      // Centroid/norm drift between the even- and odd-id embedding
      // halves: per-row norms are sequential in-array folds (bit-
      // portable); the cross-row means and the cosine rounded under
      // the tie-shift.
      val emb = tbl(s, dir, "embeddings")
      graft.operators.Similarity.embeddingDrift(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1), "embedding").get
        .select(col("n_ref"), col("n_cur"), col("dim"),
          round(col("centroid_cosine") + lit(1e-9), 6).as("centroid_cosine"),
          round(col("mean_norm_ref") + lit(1e-9), 6).as("mean_norm_ref"),
          round(col("mean_norm_cur") + lit(1e-9), 6).as("mean_norm_cur"))
    }),

    "q258_degree_distribution" -> ((s, dir) => {
      // Degree histogram of the part↔supplier graph (distinct edges,
      // both endpoints) — the cap-picking readout. Counts exact;
      // shares rounded under the tie-shift.
      val li = tbl(s, dir, "lineitem")
      val pe = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")).distinct()
      Graph.degreeDistribution(pe, "src", "dst", mode = "both").get
        .select(col("degree"), col("n_nodes"), col("total_nodes"),
          round(col("share") + lit(1e-9), 6).as("share"),
          round(col("cum_share") + lit(1e-9), 6).as("cum_share"))
        .orderBy("degree")
    }),

    "q254_harmonic_closeness" -> ((s, dir) => {
      // Landmark harmonic centrality over the symmetrized
      // part↔supplier graph from 8 supplier landmarks, 4 hops — all
      // landmarks expanded under one composite key. Counts exact; the
      // Σ 1/d sum rounded under the tie-shift.
      val li = tbl(s, dir, "lineitem")
      val pe = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val e = pe.unionByName(pe.select(col("dst").as("src"),
        col("src").as("dst")))
      val lms = tbl(s, dir, "supplier")
        .filter(col("s_suppkey") <= 8)
        .select((col("s_suppkey") * 2 + 1).as("lm"))
      Graph.harmonicCloseness(e, "src", "dst", lms, "lm",
          maxDepth = 4).get
        .select(col("node"), col("n_landmarks"),
          round(col("harmonic") + lit(1e-9), 6).as("harmonic"))
        .orderBy("node")
    }),

    "q251_sssp_weighted" -> ((s, dir) => {
      // Min-quantity routes from suppliers 1-5 across the undirected
      // part↔supplier graph, 6 relaxation rounds. Parallel edges
      // reduce to their min l_quantity; every distance is an exact
      // dyadic sum of integral quantities — gated with NO rounding.
      val li = tbl(s, dir, "lineitem")
      val pe = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"),
        col("l_quantity").as("w"))
      val e = pe.unionByName(pe.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      val seeds = tbl(s, dir, "supplier")
        .filter(col("s_suppkey") <= 5)
        .select((col("s_suppkey") * 2 + 1).as("node"))
      Graph.ssspWeighted(e, "src", "dst", "w", seeds, "node",
          maxRounds = 6).get
        .orderBy("node")
    }),

    "q242_label_propagation" -> ((s, dir) => {
      // Seed the first 10 suppliers with nation-derived labels and
      // spread them across the part↔supplier graph by exact majority
      // vote (ties → smallest label), 3 rounds; the oracle unrolls the
      // identical rounds — idempotent past convergence.
      val li = tbl(s, dir, "lineitem")
      val e = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val seeds = tbl(s, dir, "supplier")
        .filter(col("s_suppkey") <= 10)
        .select((col("s_suppkey") * 2 + 1).as("node"),
          (col("s_nationkey") % 3).cast("string").as("lab"))
      Graph.labelPropagate(e, "src", "dst", seeds, "node", "lab",
          maxRounds = 3).get
        .orderBy("node")
    }),

    "q238_link_predict" -> ((s, dir) => {
      // Missing-edge scores over the direct part↔supplier graph with
      // the hub cap at degree 50 (drops supplier hubs; wedges come
      // from part centers only — the capped-quadratic posture under
      // test). Jaccard exact; Adamic–Adar rounded under the tie-shift.
      val li = tbl(s, dir, "lineitem")
      val e = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.linkPredict(e, "src", "dst", minCommon = 2L, maxDegree = 50L)
        .get
        .select(col("src"), col("dst"), col("common"),
          round(col("jaccard") + lit(1e-9), 6).as("jaccard"),
          round(col("adamic_adar") + lit(1e-9), 6).as("adamic_adar"))
        .orderBy("src", "dst")
    }),

    "q234_louvain_bipartite" -> ((s, dir) => {
      // Louvain over the DIRECT part↔supplier graph (non-trivial at
      // every sf, unlike q232's thresholded projection which empties
      // at sf0.1) — the fingerprinted headliner for the iterative label
      // plan.
      val li = tbl(s, dir, "lineitem")
      val e = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.louvainMove(e, "src", "dst", passes = 4).get
        .orderBy("node")
    }),

    "q319_louvain_full_bipartite" -> ((s, dir) => {
      // FULL Louvain over the DIRECT part↔supplier graph (non-trivial
      // at every sf — the q234 convention): 2 local passes, contraction,
      // 2 weighted coarse passes, exact-numerator acceptance. The
      // fingerprinted headliner for the contraction + weighted-pass plan.
      val li = tbl(s, dir, "lineitem")
      val e = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.louvain(e, "src", "dst", passes = 2, levels = 2).get
        .orderBy("node")
    }),

    "q203_hits" -> ((s, dir) => {
      // HITS over the DIRECTED part→supplier graph (hubs = parts,
      // authorities = suppliers — each side's other score is exactly
      // 0): two iterations of integer L1-renormalized mutual
      // reinforcement, replayed by the oracle's unrolled half-steps.
      val li = tbl(s, dir, "lineitem")
      val edges = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.hits(edges, "src", "dst", iterations = 2, scale = 1000000L).get
        .orderBy("node")
    }),

    "q204_ab_ttest" -> ((s, dir) => {
      // Welch two-sample t-test, click vs view event values. ×100
      // integral scaling makes every sum exact so t/df are
      // bit-deterministic; t and df are scale-invariant, means/vars
      // descale for reporting.
      Stats.welchTTest(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "value", "event_type", "click", "view").get
        .select(col("n_a"), col("n_b"),
          round(col("mean_a") / 100 + lit(1e-9), 4).as("mean_a"),
          round(col("mean_b") / 100 + lit(1e-9), 4).as("mean_b"),
          round(col("var_a") / 10000 + lit(1e-9), 4).as("var_a"),
          round(col("var_b") / 10000 + lit(1e-9), 4).as("var_b"),
          round(col("t") + lit(1e-9), 4).as("t"),
          round(col("df") + lit(1e-9), 4).as("df"),
          round(col("cohen_d") + lit(1e-9), 4).as("cohen_d"))
    }),

    "q235_anova" -> ((s, dir) => {
      // One-way F across all event types on ×100 integral values:
      // per-group moments exact; the k-term Σs²/n reduction is the
      // χ²-tier float sum — rounded under the tie-shift. SS in cent²
      // → /10⁴ for dollar² output.
      Stats.anova(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "value", "event_type").get
        .select(col("n"), col("k"),
          round(col("ss_between") / 10000.0 + lit(1e-9), 4).as("ss_between"),
          round(col("ss_within") / 10000.0 + lit(1e-9), 4).as("ss_within"),
          col("df_between"), col("df_within"),
          round(col("f") + lit(1e-9), 4).as("f"))
    }),

    "q250_fisher_exact" -> ((s, dir) => {
      // Near-independent 2×2 (doc-id parity × length parity) so the
      // two-sided tail genuinely sums both sides of the mode. Cells
      // exact; the hypergeometric tail is χ²-tier (lgamma ulps inside
      // the 1e-7 inclusion slack + tie-shift).
      val docs = tbl(s, dir, "documents")
        .filter(col("n_chars").isNotNull)
        .select((col("doc_id") % 2 === 0).as("r"),
          (col("n_chars") % 2 === 0).as("c"))
      Stats.fisherExact(docs, "r", "c").get
        .select(col("a"), col("b"), col("c"), col("d"),
          round(col("odds_ratio") + lit(1e-9), 6).as("odds_ratio"),
          round(col("p_two_sided") + lit(1e-9), 6).as("p_two_sided"))
    }),

    "q249_levene" -> ((s, dir) => {
      // Brown–Forsythe variance-homogeneity screen across event types
      // on ×100 integral values: medians half-integral, z-sums exact
      // dyadics; only the k-term B reduction and the final ratio are
      // float — rounded under the tie-shift. SS in cent² → /10⁴.
      Stats.leveneTest(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "value", "event_type").get
        .select(col("n"), col("k"),
          round(col("ss_between") / 10000.0 + lit(1e-9), 4).as("ss_between"),
          round(col("ss_within") / 10000.0 + lit(1e-9), 4).as("ss_within"),
          col("df_between"), col("df_within"),
          round(col("w") + lit(1e-9), 4).as("w"))
    }),

    "q236_kruskal_wallis" -> ((s, dir) => {
      // Rank-based k-group test on the raw values (ranks don't need
      // the ×100 scaling): midranks exact dyadics at distinct-value
      // granularity, H rounded under the tie-shift.
      Stats.kruskalWallis(events(s, dir), "value", "event_type").get
        .select(col("n"), col("k"), col("df"),
          round(col("h") + lit(1e-9), 4).as("h"),
          round(col("h_adj") + lit(1e-9), 4).as("h_adj"))
    }),

    "q237_fdr" -> ((s, dir) => {
      // BH step-up over a per-document p-value frame drawn from the
      // portable md5 device (the bootstrapCI convention) — adjustment
      // runs on the raw doubles, outputs rounded under the tie-shift;
      // the reject comparison happens BEFORE rounding, identically on
      // both engines.
      val p = tbl(s, dir, "documents").select(col("doc_id"),
        (conv(substring(md5(concat(lit("fdr§"),
            col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
          % 1000000L / lit(1000000.0)).as("p"))
      Stats.fdrAdjust(p, "p", alpha = 0.1).get
        .select(col("doc_id"), round(col("p"), 6).as("p"),
          round(col("q_value") + lit(1e-9), 6).as("q_value"), col("reject"))
        .orderBy("doc_id")
    }),

    "q327_friedman" -> ((s, dir) => {
      // Friedman repeated-measures rank test: per-user exact ×100 value
      // totals across the 5 event types (complete users only), ranked
      // WITHIN each user. Midranks are exact dyadics, rank sums exact;
      // chi2/chi2_adj are IEEE chains rounded at 4 under the tie-shift.
      val perCell = events(s, dir)
        .filter(col("user_id").isNotNull && col("value").isNotNull &&
          col("event_type").isNotNull)
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(round(col("value") * 100)).as("m"))
      val complete = perCell.groupBy("user_id")
        .agg(count(lit(1)).as("__c")).filter(col("__c") === 5)
        .select("user_id")
      Stats.friedman(perCell.join(complete, Seq("user_id")), "m",
          "user_id", "event_type").get
        .select(col("n_subjects"), col("k"), col("df"),
          round(col("chi2") + lit(1e-9), 4).as("chi2"),
          round(col("chi2_adj") + lit(1e-9), 4).as("chi2_adj"))
    }),

    "q326_holm" -> ((s, dir) => {
      // Holm step-down over the q237 portable-md5 p-value device (its
      // own seed): the prefix-max step-down replayed on the grid, the
      // reject compared BEFORE rounding on both engines.
      val p = tbl(s, dir, "documents").select(col("doc_id"),
        (conv(substring(md5(concat(lit("holm§"),
            col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
          % 1000000L / lit(1000000.0)).as("p"))
      Stats.holmAdjust(p, "p", alpha = 0.1).get
        .select(col("doc_id"), round(col("p"), 6).as("p"),
          round(col("p_adj") + lit(1e-9), 6).as("p_adj"), col("reject"))
        .orderBy("doc_id")
    }),

    "q205_chi_square" -> ((s, dir) => {
      // Pearson independence test: event_type × value-band (5×5 grid,
      // dof 16). Counts and marginals are exact; chi2 is a 25-term
      // float sum — rounded, with the ~1e-13 ulp noise far inside the
      // 1e-9 tie-shift.
      Stats.chiSquareIndependence(
          events(s, dir)
            .withColumn("band", floor(col("value") / 100).cast("int")),
          "event_type", "band").get
        .select(col("n"), col("n_rows"), col("n_cols"), col("dof"),
          round(col("chi2") + lit(1e-9), 4).as("chi2"))
    }),

    "q206_mann_whitney" -> ((s, dir) => {
      // Mann–Whitney U, click vs view: midranks are exact dyadics so
      // U/rank sums are bit-deterministic with NO rounding — the gate
      // compares raw doubles.
      Stats.mannWhitneyU(events(s, dir), "value", "event_type",
        "click", "view").get
    }),

    "q207_proportion_ztest" -> ((s, dir) => {
      // Conversion-rate comparison: share of high-value (> 250) events,
      // click vs view. Four exact counts → IEEE-identical p/z on both
      // engines; +1e-9 before round.
      Stats.proportionZTest(
          events(s, dir).withColumn("hi", col("value") > 250),
          "hi", "event_type", "click", "view").get
        .select(col("n_a"), col("s_a"), col("n_b"), col("s_b"),
          round(col("p_a") + lit(1e-9), 4).as("p_a"),
          round(col("p_b") + lit(1e-9), 4).as("p_b"),
          round(col("z") + lit(1e-9), 4).as("z"))
    }),

    "q208_ks_test" -> ((s, dir) => {
      // Two-sample KS distance, click vs view values: every CDF step
      // divides the same exact cumulative counts, so `d` gates with no
      // rounding (the q206 determinism tier).
      Stats.ksTest(events(s, dir), "value", "event_type",
        "click", "view").get
    }),

    "q209_attribution" -> ((s, dir) => {
      // Last-touch attribution: each purchase attributed to the most
      // recent click/view strictly before it within 3 days. The twin
      // ignore-nulls last_value windows share one frame so both fields
      // come from the same touch row; all outputs exact micros.
      Behavior.attribution(events(s, dir), "ts", "event_id", "user_id",
          "event_type", convType = "purchase",
          touchTypes = Seq("click", "view"), windowSec = 259200L).get
        .orderBy("user_id", "event_id")
    }),

    "q210_bfs_depths" -> ((s, dir) => {
      // Multi-source BFS from suppliers 1-3 over the symmetric
      // part↔supplier graph, capped at 4 hops — min-hop depths the
      // oracle replays with a recursive reachability CTE.
      val li = tbl(s, dir, "lineitem")
      val fwd = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = li.filter(col("l_suppkey") <= 3)
        .select((col("l_suppkey") * 2 + 1).as("node"))
      Graph.bfsDepths(edges, "src", "dst", seeds, "node", maxDepth = 4).get
        .orderBy("node")
    }),

    "q325_harmonic" -> ((s, dir) => {
      // Landmark harmonic centrality over the q210 graph/seeds: three
      // per-landmark BFS min-depths (4 hops), then the EXACT-integer
      // harmonic sum — lcm(1..4)=12, every 12/d divides evenly, one
      // final division. Oracle: the q210 recursive CTE carrying the
      // landmark through the recursion.
      val li = tbl(s, dir, "lineitem")
      val fwd = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = li.filter(col("l_suppkey") <= 3)
        .select((col("l_suppkey") * 2 + 1).as("node"))
      Graph.harmonicCentrality(edges, "src", "dst", seeds, "node",
          maxDepth = 4).get
        .orderBy("node")
    }),

    "q211_skew_report" -> ((s, dir) => {
      // Pre-shuffle key-skew diagnosis on l_suppkey: top-10 heaviest
      // keys with exact share/cumulative share — the "should I salt
      // this join" readout. Counts exact; shares divide identical
      // longs.
      graft.operators.Quality.skewReport(tbl(s, dir, "lineitem"),
        Seq("l_suppkey"), topK = 10).get
        .orderBy("rank")
    }),

    "q212_funnel_timing" -> ((s, dir) => {
      // Time-to-convert profile for the q192 funnel: per step, exact
      // whole-second min/max from entry and the mean over exact µs
      // sums. Step 1 timing is NULL by definition.
      Behavior.funnelTiming(events(s, dir), "ts", "user_id", "event_type",
        Seq("view", "click", "purchase"), windowSec = 259200L).get
    }),

    "q213_correlation_matrix" -> ((s, dir) => {
      // One-pass pairwise Pearson matrix over quantity / discount /
      // tax (×100 integral, so every moment sum is exact and r is
      // bit-deterministic).
      val f = tbl(s, dir, "lineitem")
        .withColumn("disc100", round(col("l_discount") * 100))
        .withColumn("tax100", round(col("l_tax") * 100))
      Stats.correlationMatrix(f, Seq("l_quantity", "disc100", "tax100")).get
        .select(col("col_a"), col("col_b"), col("n"),
          round(col("r") + lit(1e-9), 4).as("r"))
        .orderBy("col_a", "col_b")
    }),

    "q214_cusum" -> ((s, dir) => {
      // Two-sided CUSUM drift scores over the zero-filled hourly grid
      // (target 350.00, slack 50.00 in ×100 units): with integral
      // inputs every max/min/add step is exact, so the oracle replays
      // both recursions bit-for-bit via list_reduce folds seeded with
      // a prepended 0 state.
      val gf = TimeSeries.gapFill(
        events(s, dir).withColumn("value", round(col("value") * 100)),
        "ts", Seq("event_type"), bucketSec = 3600L, valueCol = "value",
        how = "sum", fill = "zero").get
      TimeSeries.cusum(gf, "bucket_ts", Seq("event_type"), "value",
          target = 35000.0, slack = 5000.0).get
        .select(col("event_type"), col("bucket_ts"),
          round(col("value") / 100.0, 4).as("value"),
          round(col("cusum_hi") / 100.0, 4).as("cusum_hi"),
          round(col("cusum_lo") / 100.0, 4).as("cusum_lo"))
        .orderBy("event_type", "bucket_ts")
    }),

    "q215_trend" -> ((s, dir) => {
      // Per-type least-squares trend over the zero-filled hourly grid:
      // exact moment sums (time origin shifted per key, ×100 values)
      // make slope/intercept bit-deterministic; slope reported per day
      // for readability.
      val gf = TimeSeries.gapFill(
        events(s, dir).withColumn("value", round(col("value") * 100)),
        "ts", Seq("event_type"), bucketSec = 3600L, valueCol = "value",
        how = "sum", fill = "zero").get
      TimeSeries.trend(gf, "bucket_ts", Seq("event_type"), "value").get
        .select(col("event_type"), col("n"),
          round(col("slope") * 86400 / 100.0 + lit(1e-9), 4)
            .as("slope_per_day"),
          round(col("intercept") / 100.0 + lit(1e-9), 4).as("intercept"))
        .orderBy("event_type")
    }),

    "q216_modularity" -> ((s, dir) => {
      // Modularity of the connected-component partition of the
      // threshold-160 supplier graph: components make every edge
      // within-community, so Q = 1 − Σ(d_c/2m)² — the oracle replays
      // labels (recursive CTE), both term families, and the reduction.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 160L).get
      val cc = Graph.connectedComponents(proj, "src", "dst").get
      Graph.modularity(proj, "src", "dst", cc, "node", "component").get
        .select(col("m"), col("n_communities"),
          round(col("q") + lit(1e-9), 4).as("q"))
    }),

    "q217_projection_jaccard" -> ((s, dir) => {
      // Jaccard-weighted co-occurrence projection: shared / (dA + dB −
      // shared) over post-cap supplier part-set degrees — exact longs
      // in, identical IEEE division out.
      Graph.projectBipartite(tbl(s, dir, "lineitem"),
          "l_suppkey", "l_partkey", minShared = 150L,
          weighting = "jaccard").get
        .select(col("src"), col("dst"), col("shared"),
          round(col("weight") + lit(1e-9), 4).as("weight"))
        .orderBy("src", "dst")
    }),

    "q218_bootstrap_ci" -> ((s, dir) => {
      // Deterministic Poisson-bootstrap 95% CI for the mean event value
      // (×100 integral → every weighted sum exact): the md5-derived
      // Poisson draws, the B resample means, the sort, and the order-
      // statistic picks all replay in SQL character-for-character.
      Stats.bootstrapCI(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "value", Seq("event_id"), b = 100, alpha = 0.05,
          salt = "bootq").get
        .select(col("n"), col("b"),
          round(col("mean") / 100.0 + lit(1e-9), 4).as("mean"),
          round(col("ci_lo") / 100.0 + lit(1e-9), 4).as("ci_lo"),
          round(col("ci_hi") / 100.0 + lit(1e-9), 4).as("ci_hi"))
    }),

    "q219_anonymity_report" -> ((s, dir) => {
      // k-anonymity / l-diversity screen on customers: (nation, mktseg)
      // as quasi-identifiers, account balance band as the sensitive
      // attribute — every output an exact count.
      graft.operators.Quality.anonymityReport(
        tbl(s, dir, "customer")
          .withColumn("bal_band", floor(col("c_acctbal") / 1000).cast("int")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", k = 20L, l = 5L).get
    }),

    "q220_cross_correlation" -> ((s, dir) => {
      // Lagged click↔purchase cross-correlation over hourly sums
      // (×100 integral → exact moments, bit-identical r per lag), lags
      // −3…3 hours on co-observed buckets.
      TimeSeries.crossCorrelation(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "ts", "event_type", "value", keyA = "click", keyB = "purchase",
          bucketSec = 3600L, maxLag = 3).get
        .select(col("lag"), col("n"),
          round(col("r") + lit(1e-9), 4).as("r"))
        .orderBy("lag")
    }),

    "q221_autocorrelation" -> ((s, dir) => {
      // View-event ACF over hourly sums, lags 0…6 (keyA == keyB is the
      // autocorrelation special case): lag 0 must read exactly 1.0; a
      // daily cycle would peak again at lag 24.
      TimeSeries.crossCorrelation(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "ts", "event_type", "value", keyA = "view", keyB = "view",
          bucketSec = 3600L, maxLag = 6).get
        .filter(col("lag") >= 0)
        .select(col("lag"), col("n"),
          round(col("r") + lit(1e-9), 4).as("r"))
        .orderBy("lag")
    }),

    "q222_trustrank" -> ((s, dir) => {
      // Personalized PageRank from a trusted seed set (suppliers 1-5):
      // teleport + dangling mass land only on seeds, so authority
      // decays with distance from trust — the TrustRank shape. Exact
      // BIGINT arithmetic; the oracle replays all 3 rounds.
      val li = tbl(s, dir, "lineitem")
      val fwd = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = li.filter(col("l_suppkey") <= 5)
        .select((col("l_suppkey") * 2 + 1).as("node"))
      Graph.pageRank(edges, "src", "dst", iterations = 3,
          scale = 1000000000L, teleportTo = Some(seeds)).get
        .orderBy("node")
    }),

    "q223_assortativity" -> ((s, dir) => {
      // Degree assortativity of the threshold-150 supplier graph —
      // Pearson over both orientations of every edge's endpoint
      // degrees, exact integer moments throughout.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 150L).get
      Graph.assortativity(proj, "src", "dst").get
        .select(col("n_edges"), round(col("r") + lit(1e-9), 4).as("r"))
    }),

    "q224_paired_ttest" -> ((s, dir) => {
      // Paired t over per-line extended price vs its discounted
      // counterpart, in WHOLE DOLLARS (not cents): the sum of squared
      // differences must stay inside 2⁵³ for exact order-independent
      // sums — cent scaling would put Σd² within a factor of 4 of the
      // boundary at sf0.01 and over it at sf0.1.
      val li = tbl(s, dir, "lineitem")
        .withColumn("pa", round(col("l_extendedprice")))
        .withColumn("pb", round(col("l_extendedprice") *
          (lit(1) - col("l_discount"))))
      Stats.pairedTTest(li, "pa", "pb").get
        .select(col("n"),
          round(col("mean_diff") + lit(1e-9), 4).as("mean_diff"),
          round(col("var_diff") + lit(1e-9), 4).as("var_diff"),
          round(col("t") + lit(1e-9), 4).as("t"), col("df"))
    }),

    "q225_funnel_by_segment" -> ((s, dir) => {
      // The q192 funnel split by a derived acquisition segment: each
      // user's first event's props-k mod 4 (regexp-extracted — no JSON
      // engine dependence). 4 segments × 3 steps, exact counts.
      val ev = events(s, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      val segs = ev.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"),
          (regexp_extract(col("props"), "[0-9]+", 0).cast("int") % 4)
            .as("seg"))
      Behavior.funnelBySegment(ev, "ts", "user_id", "event_type",
          segs, "seg", Seq("view", "click", "purchase"),
          windowSec = 259200L).get
        .orderBy("segment", "step_idx")
    }),

    "q226_stickiness" -> ((s, dir) => {
      // DAU / trailing-7-day MAU per day — exact distinct counts and
      // the identical-longs ratio; the 7-day window keeps the gate
      // discriminative over the 30-day span.
      Behavior.stickiness(events(s, dir), "ts", "user_id",
          windowDays = 7).get
        .orderBy("day_ts")
    }),

    "q227_activity_histogram" -> ((s, dir) => {
      // L30-style engagement curve: users by number of distinct active
      // days — exact two-stage counts.
      Behavior.activityHistogram(events(s, dir), "ts", "user_id").get
        .orderBy("buckets_active")
    }),

    "q228_new_vs_returning" -> ((s, dir) => {
      // Daily audience composition: first-ever-day actives vs
      // returning — exact counts off the (user, day) dedupe + window
      // min.
      Behavior.newVsReturning(events(s, dir), "ts", "user_id").get
        .orderBy("day_ts")
    }),

    "q229_rfm" -> ((s, dir) => {
      // RFM per user (×100 integral monetary → exact sums), quintile
      // scores with id tiebreaks — fully deterministic, replayed with
      // the identical ntile orderings.
      Behavior.rfm(
          events(s, dir).withColumn("value", round(col("value") * 100)),
          "ts", "user_id", "value", nTiles = 5).get
        .select(col("user_id"), col("recency_days"), col("frequency"),
          round(col("monetary") / 100.0, 4).as("monetary"),
          col("r_score"), col("f_score"), col("m_score"))
        .orderBy("user_id")
    }),

    "q230_transitivity" -> ((s, dir) => {
      // Global clustering coefficient of the threshold-150 supplier
      // graph: 3·triangles / Σ C(deg, 2), exact integer terms.
      val proj = Graph.projectBipartite(tbl(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", minShared = 150L).get
      Graph.transitivity(proj, "src", "dst").get
        .select(col("n_nodes"), col("n_wedges"), col("n_triangles"),
          round(col("transitivity") + lit(1e-9), 4).as("transitivity"))
    }),

    "q231_gini" -> ((s, dir) => {
      // Revenue-concentration Gini over per-user summed event value
      // (×100 cents → exact rank-weighted sums; 150 users).
      val perUser = events(s, dir)
        .withColumn("value", round(col("value") * 100))
        .groupBy("user_id").agg(sum("value").as("spend"))
      Stats.gini(perUser, "spend", "user_id").get
        .select(col("n"),
          round(col("total") / 100.0, 4).as("total"),
          round(col("gini") + lit(1e-9), 4).as("gini"))
    }),

    "q186_ivfpq_knn" -> ((s, dir) => {
      // IVF-ADC with exhaustive settings (probe every cell, shortlist ≥
      // corpus): routing excludes nothing and the exact rerank sees all
      // candidates, so the result equals exact top-k — the q40/q98
      // gating pattern for the composed path. Pruned-probe recall is
      // measured in QuantizeSpec.
      val emb = tbl(s, dir, "embeddings")
      Quantize.ivfPqKnn(emb, emb.filter(col("vec_id") < 10), "embedding",
          "vec_id", k = 5, nCentroids = 8, nProbe = 8, m = 8, cells = 16,
          shortlistK = 600).get
        .orderBy("queryId", "rank")
    }),

    "q317_ivf_recall" -> ((s, dir) => {
      // Pruned-probe IVF recall vs exact brute force — the gate the
      // VERDICT r9 #1 asked for: caller-codebook routing (coarse
      // centroids = 8 actual corpus vectors, vec_id ≡ 1 (mod 6) < 48 —
      // deterministic AND data-adapted, so both engines read them from
      // the table), nProbe = 3 of 8 (scan ≈ 3/8 of the corpus), PQ
      // codebook = the q184 quarter-rational synthesis, shortlist 600 ≥
      // corpus so the exact rerank sees every PROBED candidate and the
      // only approximation is the routing. Both engines compute the
      // routing score 2·x·c − |c|² as sequential index-order dot
      // products of identical doubles — bit-deterministic, no rounding
      // needed. Emits per-query hit counts against brute top-5 plus the
      // mean recall and its stated floor (0.6; measured 0.76 at sf0.01,
      // 0.64 at sf0.001 — REHEARSAL_r10 bounds the scan fraction).
      val emb = tbl(s, dir, "embeddings")
      val coarse = emb
        .filter(col("vec_id") % 6 === 1 && col("vec_id") < 48)
        .select(expr("CAST(vec_id DIV 6 AS INT)").as("cell"),
          col("embedding").as("centroid"))
      val cb = s.range(0, 8).select(col("id").cast("int").as("s"))
        .crossJoin(s.range(0, 16).select(col("id").cast("int").as("cell")))
        .withColumn("centroid", expr(
          "transform(sequence(0, 7), i -> " +
          "CAST(((s*31 + cell*7 + i*3) % 11 - 5) / 4.0 AS FLOAT))"))
      val queries = emb.filter(col("vec_id") < 10)
      val ivf = Quantize.ivfPqKnnWith(emb, queries, "embedding", "vec_id",
          coarse, cb, m = 8, cells = 16, k = 5, nProbe = 3,
          shortlistK = 600).get
        .select(col("queryId"), col("neighborId"), lit(1L).as("__hit"))
      val brute = Similarity.bruteForceKnn(emb, queries, "embedding",
          "vec_id", k = 5).get
        .select(col("queryId"), col("neighborId"))
      val hits = brute
        .join(ivf, Seq("queryId", "neighborId"), "left")
        .groupBy("queryId")
        .agg(coalesce(sum("__hit"), lit(0L)).as("n_hits"))
      val mean = hits.agg(
        (sum("n_hits").cast("double") /
          (count(lit(1)) * lit(5)).cast("double")).as("mean_recall"))
      hits.crossJoin(broadcast(mean))
        .select(col("queryId"), col("n_hits"),
          (col("n_hits").cast("double") / lit(5.0)).as("recall"),
          col("mean_recall"),
          (col("mean_recall") >= lit(0.6)).as("meets_floor"))
        .orderBy("queryId")
    }),

    "q185_embedding_outliers" -> ((s, dir) => {
      // Per-label centroid cosine + within-group z-score: the embedding
      // data-quality screen. Both aggregate rounds (element-wise mean,
      // cosine mean/stddev) replay in SQL over the same double casts.
      Similarity.embeddingOutliers(tbl(s, dir, "embeddings"),
        "embedding", "vec_id", "label").get
        .orderBy("vec_id")
    }),

    "q153_audio_fingerprint" -> ((s, dir) => {
      // REAL per-frame FFT on real WAV bytes: 4 frames × 256 samples,
      // frame f planted with (3 + (doc_id·7 + f·11) mod 97) full sine
      // cycles — all signal energy lands in that exact bin, so the
      // recovered dominant-bin sequence is pure modular arithmetic.
      val wav = udf((id: Long) =>
        Multimodal.MediaSynth.frameSineWavBytes(8000, 256,
          (0 until 4).map(f => (3 + (id * 7 + f * 11) % 97).toInt), 12000))
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("aud", wav(col("doc_id")))
      Multimodal.audioFingerprint(base, "aud", nFft = 256).get
        .select(col("doc_id"),
          posexplode(col("fingerprint")).as(Seq("frame", "bin")))
        .orderBy("doc_id", "frame")
    }),

    "q154_audio_neardup" -> ((s, dir) => {
      // Audio dedup: clips j and j+250 are planted siblings (odd twins
      // get frame 0 shifted one bin). Fingerprint → slim (id, frame,
      // bin) bucket join → pairs with >= 3 of 4 frames agreeing; the
      // oracle replays the planted bin arithmetic and brute-forces the
      // same pair set.
      val wav = udf((id: Long) => {
        val j = id % 250
        val cs = Array.tabulate(4)(f => (3 + (j * 7 + f * 11) % 97).toInt)
        if (id >= 250 && id % 2 == 1) cs(0) += 1
        Multimodal.MediaSynth.frameSineWavBytes(8000, 256, cs.toSeq, 12000)
      })
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("aud", wav(col("doc_id")))
      // bandWidth = 2: with 4-frame clips and minMatches = 3 at most one
      // frame mismatches, so one of the two 2-frame bands is always
      // intact — same emitted set as single-frame banding (the oracle
      // brute-forces it), at a squared candidate-key space
      Multimodal.audioNearDupPairs(base, "aud", "doc_id",
          nFft = 256, minMatches = 3, maxBucket = Int.MaxValue,
          bandWidth = 2).get
        .orderBy("idA", "idB")
    }),

    "q155_hard_negatives" -> ((s, dir) => {
      // Contrastive-training data prep: per anchor, the 5 most-similar
      // vectors with a DIFFERENT label (the boundary negatives). Exact
      // brute-force form → the oracle replays cosine + label filter +
      // rank identically.
      val emb = tbl(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
          "embedding", "vec_id", "label", k = 5).get
        .orderBy("anchorId", "rank")
    }),

    "q156_knn_recall" -> ((s, dir) => {
      // ANN recall harness on a deterministically degraded input: drop
      // every exact neighbor with (queryId + neighborId) % 3 == 0 and
      // measure recall@5 against the untouched baseline — the metric
      // arithmetic (membership counts, zero-miss queries, rounding) is
      // what's gated; both inputs replay in SQL.
      val emb = tbl(s, dir, "embeddings")
      val exact = Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5).get
      val degraded = exact.filter(pmod(col("queryId") + col("neighborId"), lit(3)) =!= 0)
      Similarity.knnRecall(degraded, exact, k = 5).get
        .orderBy("queryId")
    }),

    "q157_triplet_mine" -> ((s, dir) => {
      // FaceNet-style triplets: hardest positive (same label, lowest
      // cosine) + hardest negative (different label, highest cosine) per
      // anchor — both argselects and the cosine arithmetic replay in SQL.
      // The semi-hard variant is spec-locked (fallback rule isn't worth
      // an oracle CASE tower).
      val emb = tbl(s, dir, "embeddings")
      Similarity.tripletMine(emb, emb.filter(col("vec_id") < 10),
          "embedding", "vec_id", "label").get
        .orderBy("anchorId")
    }),

    "q145_leakage_safe_split" -> ((s, dir) => {
      // Leakage-safe split over planted duplicate pairs (self-union with
      // +1e6 ids, threshold 1.0): each {id, id+1e6} cluster must land
      // ENTIRELY on one side, drawn by the portable md5 hash of the
      // cluster representative (= min id) — so the oracle replays every
      // assignment exactly from the construction.
      val docs = tbl(s, dir, "documents")
      val doubled = docs.select("doc_id", "text")
        .union(docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.leakageSafeSplit(doubled, "text", "doc_id",
          weights = Seq(0.8, 0.2), salt = "s5", names = Seq("train", "test"),
          threshold = 1.0).get
        .select("doc_id", "split")
        .orderBy("doc_id")
    }),

    "q146_text_diversity" -> ((s, dir) => {
      // Unigram diversity signals: Shannon entropy (native hash-map
      // expression) and type-token ratio — the oracle recomputes both
      // by unnest-group-sum over the same portable tokenizer.
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          round(TextFunctions.unigramEntropy(col("text")), 6).as("entropy"),
          round(TextFunctions.typeTokenRatio(col("text")), 6).as("ttr"))
        .orderBy("doc_id")
    }),

    "q147_rrf_fusion" -> ((s, dir) => {
      // Reciprocal-rank fusion of two per-lang rankings (longest-docs
      // and portable-hash order, top-20 each) into a fused top-10 —
      // every 1/(k+rank) contribution replayed by the oracle.
      val d = tbl(s, dir, "documents")
      val wa = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val a = d.withColumn("rank", row_number().over(wa))
        .filter(col("rank") <= 20).select("lang", "doc_id", "rank")
      val hb = TextFunctions.portableHash60(
        concat(lit("rrf§"), col("doc_id").cast("string")))
      val wb = Window.partitionBy(col("lang")).orderBy(hb, col("doc_id"))
      val b = d.withColumn("rank", row_number().over(wb))
        .filter(col("rank") <= 20).select("lang", "doc_id", "rank")
      graft.operators.TfIdf.rrfFuse(Seq(a, b), Seq("lang"), "doc_id",
          "rank", k = 60, topK = 10).get
        .orderBy("lang", "fused_rank")
    }),

    "q144_group_centroids" -> ((s, dir) => {
      // Per-label embedding centroids (element-wise mean, rounded to 6):
      // flattened to (label, dim_idx, mu, n_members) rows so the gate
      // hash-compares every coordinate against the oracle's
      // unnest-and-avg replay.
      graft.operators.Similarity.groupCentroids(
          tbl(s, dir, "embeddings"), "label", "embedding").get
        .select(col("label"), col("n_members"),
          posexplode(col("centroid")).as(Seq("dim_idx", "mu")))
        .select(col("label"), col("dim_idx"), col("mu"), col("n_members"))
        .orderBy("label", "dim_idx")
    }),

    "q137_temperature_weights" -> ((s, dir) => {
      // Temperature mixture weights (p_s ∝ n_s^alpha): exact counts,
      // shares, and capped keep-fractions per (source-bucketed) lang —
      // the oracle replays the pow/share arithmetic to 6 digits.
      graft.operators.Sampling.temperatureWeights(
          tbl(s, dir, "documents"), Seq("lang"), alpha = 0.5,
          targetRows = 300L).get
        .orderBy("lang")
    }),

    "q138_temperature_mix" -> ((s, dir) => {
      // The temperature sample itself: keep-fraction lookup + the same
      // salted-md5 draw as q132/q136, replayed row-exact.
      graft.operators.Sampling.byTemperature(
          tbl(s, dir, "documents"), Seq("lang"), alpha = 0.5,
          targetRows = 300L, idCols = Seq("doc_id"), salt = "r5t").get
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    }),

    "q136_sample_composite_strata" -> ((s, dir) => {
      // Composite (source, lang) stratification — the corpus-mixing
      // shape: per-stratum keep-fractions with a non-zero default, the
      // same salted-md5 draw as q132 replayed row-exact by the oracle.
      graft.operators.Sampling.byFractionsByHash(
          tbl(s, dir, "documents"),
          Seq("source", "lang"),
          Map(Seq("src0", "en") -> 1.0, Seq("src1", "en") -> 0.5,
            Seq("src0", "de") -> 0.25, Seq("src2", "zh") -> 0.0),
          idCols = Seq("doc_id"), salt = "r5", defaultFraction = 0.3).get
        .select("source", "lang", "doc_id", "n_chars")
        .orderBy("source", "lang", "doc_id")
    }),

    "q135_avi_frames" -> ((s, dir) => {
      // REAL RIFF/AVI MJPEG pipeline: per doc, an honest AVI container
      // (RIFF → hdrl(avih, strl) → movi with 00dc JPEG chunks) around
      // true JPEG frames → extractFrames RIFF walk → JDK decode. The
      // oracle replays the LOSSLESS planted structure (frame count,
      // order, dims, codec) — gray levels are JPEG-lossy and bounded in
      // MultimodalSpec instead.
      val vid = udf((docId: Long) => {
        val nf = (1 + docId % 3).toInt
        val w = 12 + (docId % 4).toInt * 2
        val h = 10 + (docId % 3).toInt * 2
        Multimodal.MediaSynth.aviMjpegBytes(
          (0 until nf).map(f =>
            Multimodal.MediaSynth.jpegBytes(w, h, ((docId * 11 + f * 29) % 256).toInt)),
          w, h)
      })
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("vid", vid(col("doc_id")))
      (for {
        fr <- Multimodal.extractFrames(base, "vid")
        d  <- Multimodal.decodeImage(fr, "frame", metaCol = "fmeta",
                decoder = Multimodal.JdkMediaDecoder)
      } yield d.select(
        col("doc_id"),
        col("frame_idx"),
        col("fmeta.width").as("width"),
        col("fmeta.height").as("height"),
        col("fmeta.format").as("format"))
        .orderBy("doc_id", "frame_idx")).get
    }),

    "q133_lsh_cap_report" -> ((s, dir) => {
      // Cap observability: the portable-banding occupancy report —
      // every counter (buckets, dropped buckets, rows in dropped
      // buckets, max occupancy) is a pure function of the md5-sign
      // signatures, so the oracle recomputes the report exactly. The
      // deliberately tight maxBucket guarantees real drops, proving
      // the recall loss the round-4 verdict flagged as silent is now
      // a queryable number.
      graft.operators.Dedup.embeddingCapReportPortable(
          tbl(s, dir, "embeddings"), "embedding", "vec_id",
          bandBits = 4, nBands = 15, maxBucket = 40).get
        .orderBy("n_buckets")
    }),

    "q134_shortlist_report" -> ((s, dir) => {
      // Shortlist-truncation observability for the quantized kNN: per
      // query, candidates vs the shortlistK cap — trivially replayed
      // by the oracle from corpus counts.
      val emb = tbl(s, dir, "embeddings")
      graft.operators.Quantize.shortlistReport(
          emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
          shortlistK = 50).get
        .orderBy("queryId")
    }),

    "q132_sample_fractions_hash" -> ((s, dir) => {
      // Deterministic stratified fractions: the salted-md5 draw is a
      // pure function of (salt, doc_id), so the oracle replays the
      // exact kept rows — and the unlisted language ('zh') keeps the
      // default fraction 0, i.e. vanishes.
      graft.operators.Sampling.byFractionsByHash(
          tbl(s, dir, "documents"),
          "lang", Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25, "es" -> 0.0),
          idCols = Seq("doc_id"), salt = "r4").get
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    }),

    "q131_stream_enrich" -> ((s, dir) => {
      // Stream-static enrichment: file-streamed events joined to a
      // broadcast 5-row dimension (stateless, per-micro-batch), then
      // aggregated per category — must equal the batch join the oracle
      // runs.
      implicit val sp: SparkSession = s
      import s.implicits._
      // UUID-suffixed staging (like the memory-sink table name): a fixed
      // path would let two concurrent gate runs overwrite each other's
      // staged parquet mid-stream; deleted after the query stops.
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_stream_enrich_src_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      events(s, dir).write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val dim = Seq(
        ("click", "engagement"), ("view", "engagement"),
        ("purchase", "revenue"), ("signup", "revenue"),
        ("error", "ops")).toDF("event_type", "category")
      val name = "graft_enrich_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val out = (for {
        src <- Read.fileStream(staged, "parquet", schema)
        // inner join to MATCH the oracle's semantics exactly — a left
        // join would only agree while the fixture's event_type domain
        // happens to equal the dim keys
        e   <- graft.streaming.Stream.enrich(src, dim, Seq("event_type"),
                 joinType = "inner")
        agg <- Transform(e)(_.groupBy(col("category"))
                 .agg(count(lit(1)).as("n"),
                   round(sum(col("value")), 4).as("sum_value")))
      } yield agg).get
      val q = out.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
      // the memory sink holds the rows now — the staged parquet can go
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(staged))
      s.table(name).orderBy("category")
    }),

    "q130_corpus_diff" -> ((s, dir) => {
      // Corpus version diff: v2 drops every 13th doc, rewrites every
      // 5th, adds a fresh id per 11th — statuses replayed by CASE
      // arithmetic. The fingerprint compare must agree with direct
      // normalized-text equality (whitespace-insensitive: the %5
      // mutation only pads spaces for %10==5, which must read as
      // UNCHANGED).
      val v1 = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2base = v1.filter(pmod(col("doc_id"), lit(13)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(10)) === 5,
            concat(lit("  "), col("text"), lit("   ")))       // normalizes away
            .when(pmod(col("doc_id"), lit(5)) === 0,
              concat(col("text"), lit(" v2 edit")))           // real change
            .otherwise(col("text")))
      val v2 = v2base.unionByName(
        v1.filter(pmod(col("doc_id"), lit(11)) === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      graft.operators.Merge.corpusDiff(v1, v2, "text", "doc_id").get
        .orderBy("doc_id")
    }),

    "q128_bin_encode" -> ((s, dir) => {
      // Binary (sign) quantization: every 32-bit code word recomputed by
      // the oracle with a bigint shift — one wrong sign bit anywhere in
      // the corpus flips a code and fails the hash compare.
      graft.operators.Quantize.binEncode(
          tbl(s, dir, "embeddings"), "embedding", "vec_id").get
        .select(col("vec_id"),
          element_at(col("bin_code"), 1).as("code_w0"),
          element_at(col("bin_code"), 2).as("code_w1"))
        .orderBy("vec_id")
    }),

    "q129_bin_knn" -> ((s, dir) => {
      // Hamming-shortlist kNN with exact rerank; exhaustive shortlist ⇒
      // must equal exact brute-force top-k (q98's gating pattern).
      // Production-size shortlist recall is locked by QuantizeSpec.
      val emb = tbl(s, dir, "embeddings")
      graft.operators.Quantize.binKnn(emb, emb.filter(col("vec_id") < 10),
          "embedding", "vec_id", k = 5, shortlistK = 1 << 20).get
        .orderBy("queryId", "rank")
    }),

    "q127_url_canonical" -> ((s, dir) => {
      // URL canonicalization — the key for URL-level dedup: messy
      // synthesized URLs (upper-case scheme/host, default port,
      // tracking params around a real param, fragment) must collapse to
      // the clean canonical form; the oracle replays the exact regex
      // chain (RE2-safe patterns, so both engines agree per character).
      val messy = concat(lit("HTTP://Src"), pmod(col("doc_id"), lit(7)),
        lit(".Example.ORG:80/Path"), pmod(col("doc_id"), lit(5)),
        lit("?utm_source=feed"), col("doc_id"),
        lit("&id="), pmod(col("doc_id"), lit(50)),
        lit("&UTM_Medium=m"), pmod(col("doc_id"), lit(3)), // uppercased tracker — (?i) must strip it
        lit("&fbclid=x"), col("doc_id"),
        lit("#sec"), col("doc_id"))
      tbl(s, dir, "documents")
        .select(col("doc_id"), messy.as("url"))
        .withColumn("canonical_url", TextFunctions.canonicalizeUrl(col("url")))
        .orderBy("doc_id")
    }),

    "q126_gopher_repetition" -> ((s, dir) => {
      // Gopher's repetition half over synthesized structure: every 3rd
      // doc repeats a line (dup_line_frac 1/3 > 0.30), every 7th
      // repeats the whole first block (paragraph + line dups), and
      // doc_id % 5 spam-phrase repeats trip the duplicated-n-gram
      // rules at r ≥ 2 — so every rule fires somewhere and the oracle
      // replays fractions AND verdicts exactly.
      val d = tbl(s, dir, "documents")
      val l1 = substring(col("text"), 1, 40)
      val l2 = substring(col("text"), 41, 40)
      val l3 = when(pmod(col("doc_id"), lit(3)) === 0, l1)
        .otherwise(concat(lit("uniq "), col("doc_id").cast("string")))
      val part1 = concat(l1, lit("\n"), l2, lit("\n"), l3)
      val part2 = when(pmod(col("doc_id"), lit(7)) === 0, part1)
        .otherwise(concat(lit("second block "), col("doc_id").cast("string")))
      val spam = expr("repeat(' spam alpha beta gamma delta', CAST(doc_id % 5 AS INT))")
      val lined = d.select(col("doc_id"),
        concat(part1, lit("\n\n"), part2, spam).as("text"))
      graft.operators.Quality.gopherRepetitionFlags(lined, "text", "doc_id").get
        .orderBy("doc_id")
    }),

    "q124_audio_spectrum" -> ((s, dir) => {
      // REAL DSP: planted pure tones (bin k = 3 + doc_id % 29 of a
      // 1024-point window at 16 kHz) → true WAV bytes → AudioSystem
      // decode → radix-2 FFT → the dominant bin must be EXACTLY the
      // planted one (all sine energy lands in bin k when the window
      // length equals nFft; int16 rounding noise is ~90 dB down).
      val wav = udf((k: Int) =>
        Multimodal.MediaSynth.sineWavBytes(16000, 1024, k, 12000))
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("aud", wav((lit(3) + pmod(col("doc_id"), lit(29))).cast("int")))
      Multimodal.audioSpectralFeatures(base, "aud", nFft = 1024).get
        .select(
          col("doc_id"),
          col("audio_spectrum.sample_rate").as("sample_rate"),
          col("audio_spectrum.n_fft").as("n_fft"),
          col("audio_spectrum.dominant_bin").as("dominant_bin"),
          round(col("audio_spectrum.dominant_freq_hz"), 6).as("dominant_freq_hz"))
        .orderBy("doc_id")
    }),

    "q125_video_frames" -> ((s, dir) => {
      // REAL frame pipeline: per doc, a GFV1 container of 2–4 true PNG
      // frames (dims and gray level planted per frame) → extractFrames
      // explode → JDK decode of each frame's actual bytes. The oracle
      // regenerates the planted per-frame parameters with a range
      // unnest — one wrong frame boundary or misdecoded pixel fails.
      val vid = udf((docId: Long) => {
        val nf = (2 + docId % 3).toInt
        Multimodal.MediaSynth.framesContainer((0 until nf).map { f =>
          Multimodal.MediaSynth.pngBytes(16 + f, 9 + f, ((docId * 7 + f * 13) % 256).toInt)
        })
      })
      val base = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("vid", vid(col("doc_id")))
      (for {
        fr <- Multimodal.extractFrames(base, "vid")
        d  <- Multimodal.decodeImage(fr, "frame", metaCol = "fmeta",
                decoder = Multimodal.JdkMediaDecoder)
      } yield d.select(
        col("doc_id"),
        col("frame_idx"),
        col("fmeta.width").as("width"),
        col("fmeta.height").as("height"),
        col("fmeta.mean_intensity").as("mean_intensity"))
        .orderBy("doc_id", "frame_idx")).get
    }),

    "q123_sample_quota_hash" -> ((s, dir) => {
      // Deterministic per-group quota: exactly min(40, |lang group|)
      // docs per language, selected by the salted portable hash — the
      // oracle replays the exact chosen rows via row_number over the
      // same key (q64's idiom for fixed quotas instead of budgets).
      graft.operators.Sampling.fixedPerGroupByHash(
          tbl(s, dir, "documents"), Seq("lang"), n = 40,
          idCols = Seq("doc_id"), salt = "r4").get
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    }),

    "q115_gopher" -> ((s, dir) => {
      // Gopher rule flags over the corpus, lowered word-count floor so
      // both outcomes occur at gate scale (synthetic docs run ~40-90
      // words). The synthetic vocabulary contains no English stop words,
      // so a third of the docs get a stopword-bearing sentence planted
      // (q79's synthetic-PII pattern) — stopword_ok and pass then vary;
      // every flag is replayed exactly by the oracle.
      val aug = tbl(s, dir, "documents").withColumn("text",
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"),
            lit(" the data and that report have merit with it to be seen")))
          .otherwise(col("text")))
      graft.operators.Quality.gopherFlags(aug, "text", "doc_id",
        minWords = 60L).get
        .orderBy("doc_id")
    }),

    "q116_ccnet_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail assignment by pinned perplexity cutoffs
      // (30.0 / 30.5 split the sf0.01 corpus's dense zone so all three
      // labels occur). Bucketing compares the UN-rounded perplexity —
      // map-side, no sort — exactly as the oracle replays it.
      val ppl = graft.operators.LmScore.unigramScores(
        tbl(s, dir, "documents"), "text", "doc_id").get
      graft.operators.LmScore.buckets(ppl, "perplexity",
        cutoffs = Seq(30.0, 30.5)).get
        .select(col("doc_id"), round(col("perplexity"), 4).as("ppl_uni"),
          col("bucket"))
        .orderBy("doc_id")
    }),

    "q119_ccnet_perlang" -> ((s, dir) => {
      // CCNet's ACTUAL recipe: cutoffs fitted per language, not globally
      // (Wenzek et al. §4.3). Pinned per-lang cutoffs straddle each
      // language's own quartiles so all three labels occur in every
      // language and two languages disagree on the same perplexity.
      // The assignment joins the broadcast 5-row cutoffs frame and
      // labels against the UN-rounded perplexity, map-side.
      import s.implicits._
      val docs = tbl(s, dir, "documents")
      val ppl = graft.operators.LmScore.unigramScores(docs, "text", "doc_id").get
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      val cuts = Seq(
        ("de", Seq(29.91, 30.12)), ("en", Seq(29.93, 30.13)),
        ("es", Seq(29.95, 30.13)), ("fr", Seq(29.92, 30.10)),
        ("zh", Seq(29.90, 30.14))).toDF("lang", "cutoffs")
      graft.operators.LmScore.bucketsByKey(ppl, "perplexity", cuts, Seq("lang")).get
        .select(col("doc_id"), col("lang"),
          round(col("perplexity"), 4).as("ppl_uni"), col("bucket"))
        .orderBy("doc_id")
    }),

    "q117_c4_clean" -> ((s, dir) => {
      // C4 rules over synthesized line structure (the corpus has no
      // newlines/punctuation): line A ends "."; line B keeps its terminal
      // punctuation only for even ids; "short line" fails the word floor;
      // the javascript line always drops; every 7th doc plants
      // "lorem ipsum", every 11th a curly brace — so line- and doc-level
      // verdicts all vary, and the oracle replays the same construction.
      val lined = tbl(s, dir, "documents").withColumn("text",
        concat(
          substring(col("text"), 1, 60), lit(" end.\n"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(substring(col("text"), 61, 60), lit(" more tail.")))
            .otherwise(substring(col("text"), 61, 60)),
          lit("\nshort line\nplease enable javascript to view this page."),
          when(pmod(col("doc_id"), lit(7)) === 0,
            lit("\nlorem ipsum dolor sit amet consectetur."))
            .otherwise(when(pmod(col("doc_id"), lit(11)) === 0,
              lit("\nconfig { skip this } done.")).otherwise(lit("")))))
      graft.operators.Segments.c4Clean(lined, "text", "doc_id",
        minLineWords = 5, minLines = 2).get
        .orderBy("doc_id")
    }),

    "q118_bm25" -> ((s, dir) => {
      // BM25 retrieval: the first five docs' 80-char prefixes as queries
      // (each should pull its own source doc to rank 1); full corpus as
      // the index; rank ties broken by doc id on both engines.
      val docs = tbl(s, dir, "documents")
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          substring(col("text"), 1, 80).as("qtext"))
      graft.operators.TfIdf.bm25Search(docs, queries, "text", "doc_id",
          "qtext", "query_id", k = 5).get
        .select(col("queryId").as("query_id"), col("docId").as("doc_id"),
          round(col("score"), 6).as("score"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    "q110_contamination_report" -> ((s, dir) => {
      // Per-benchmark provenance: two named eval sets (docs 0-9 and
      // 10-19), each broadcast; one row per (doc, benchmark) hit. Every
      // 7th corpus doc gets a 120-char leak from benchmark doc
      // (doc_id % 20) planted, so both benchmarks light up densely.
      val docs = tbl(s, dir, "documents")
      val leak = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("__leak_key"),
          substring(col("text"), 1, 120).as("__leak"))
      val corpus = docs.filter(col("doc_id") >= 20)
        .withColumn("__leak_key", pmod(col("doc_id"), lit(20)))
        .join(leak, Seq("__leak_key"), "left")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" "), coalesce(col("__leak"), lit(""))))
            .otherwise(col("text")).as("text"))
      Dedup.contaminationReport(
          corpus,
          Map("benchA" -> docs.filter(col("doc_id") < 10),
              "benchB" -> docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)),
          "text", "doc_id", n = 8).get
        .orderBy("doc_id", "benchmark")
    }),

    "q324_url_dedup" -> ((s, dir) => {
      // URL-canonical dedup over planted address variants (scheme/host
      // case, :443, bare-root trailing slash, utm params, fragments —
      // all from doc_id arithmetic). The oracle does NOT replay the
      // regex chain: it states the canonical in CLOSED FORM from the
      // same arithmetic and keeps min-id per canonical — an independent
      // check of every canonicalizeUrl rule (incl. the bare-root-only
      // slash strip: a root slash BEFORE a query survives).
      val d = col("doc_id")
      val url = concat(
        when(pmod(d, lit(2)) === 0, lit("HTTPS://")).otherwise(lit("https://")),
        when(pmod(d, lit(4)) < 2, lit("EX")).otherwise(lit("ex")),
        pmod(d, lit(40)).cast("string"),
        when(pmod(d, lit(4)) < 2, lit(".COM")).otherwise(lit(".com")),
        when(pmod(d, lit(3)) === 0, lit(":443")).otherwise(lit("")),
        when(pmod(d, lit(4)) === 0, lit("/"))
          .otherwise(concat(lit("/p/"), pmod(d, lit(6)).cast("string"))),
        when(pmod(d, lit(5)) === 0, lit("?utm_source=x"))
          .when(pmod(d, lit(5)) === 1, lit("?id=7")).otherwise(lit("")),
        when(pmod(d, lit(7)) === 0, lit("#sec")).otherwise(lit("")))
      Dedup.urlDedup(
          tbl(s, dir, "documents").select(col("doc_id"), url.as("url")),
          "url", "doc_id").get
        .orderBy("doc_id")
    }),

    "q323_pii" -> ((s, dir) => {
      // Regex-tier PII scan + redaction over a deterministically
      // planted corpus (the q110 device): every 5th doc gets an email,
      // 7th a phone, 11th an IPv4 + SSN, 13th a card number — all
      // synthesized from doc_id arithmetic so the oracle replays the
      // planting, the per-class counts on progressively redacted text,
      // and the full redaction chain byte-for-byte (patterns live in
      // the Java-regex ∩ RE2 common subset).
      val docs = tbl(s, dir, "documents")
      val planted = docs.select(col("doc_id"), concat(
        col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" call 555-"),
            lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
            lit("-4567"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit(" node 10.0."),
            pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".25 ssn 123-45-6789"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(13)) === 0,
          lit(" card 4111 1111 1111 1111")).otherwise(lit(""))
      ).as("text"))
      val scan = graft.operators.Quality.piiScan(planted, "text",
        Seq("doc_id")).get
      val red = graft.operators.Quality.piiRedact(planted, "text").get
        .select(col("doc_id"), col("text").as("redacted"))
      scan.join(red, Seq("doc_id")).orderBy("doc_id")
    }),

    "q322_leakage_triage" -> ((s, dir) => {
      // BM25-ranked leakage triage over the q110 planted-leak corpus:
      // candidates from the exact distinct-8-gram hit join, each
      // benchmark item's hits ranked by the BM25 relevance of the
      // (planted) training doc to the benchmark text — the review
      // queue the decontamination family feeds. k1/b literals and the
      // full formula replay in the oracle; score rounded at 6 (q118).
      val docs = tbl(s, dir, "documents")
      val leak = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("__leak_key"),
          substring(col("text"), 1, 120).as("__leak"))
      val corpus = docs.filter(col("doc_id") >= 20)
        .withColumn("__leak_key", pmod(col("doc_id"), lit(20)))
        .join(leak, Seq("__leak_key"), "left")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" "), coalesce(col("__leak"), lit(""))))
            .otherwise(col("text")).as("text"))
      graft.operators.TfIdf.leakageTriage(corpus,
          docs.filter(col("doc_id") < 10), "text", "doc_id",
          "text", "doc_id", n = 8, k = 5).get
        .orderBy("queryId", "rank")
    }),

    "q111_topk_per_group" -> ((s, dir) => {
      // Deterministic per-group top-k: 5 longest docs per language,
      // doc_id tiebreak; rank exposed. WindowGroupLimit caps the shuffle.
      Order.topKPerGroup(
          tbl(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          Seq("lang"), Seq(col("n_chars").desc, col("doc_id")), 5,
          rankCol = "rank").get
        .orderBy("lang", "rank")
    }),

    "q107_tpch14" -> ((s, dir) => {
      // TPC-H Q14 shape: promo revenue share for one ship month — the
      // slim part dimension broadcasts, the date filter pushes into the
      // lineitem scan, one global aggregate.
      val li = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-09-01") &&
          col("l_shipdate") < lit("1997-10-01"))
      val part = tbl(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_type"))
      (for {
        j <- Join.inner(li, part, Join.On(Seq("l_partkey")))
        g <- Group.agg(j, Nil, Group.Agg(Seq(
               round(lit(100.0) * sum(when(col("p_type") === "PROMO",
                   col("l_extendedprice") * (lit(1) - col("l_discount")))
                   .otherwise(lit(0.0)))
                 / sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
                 .as("promo_pct"),
               count(lit(1)).as("n_rows"))))
      } yield g).get
    }),

    "q108_tpch18" -> ((s, dir) => {
      // TPC-H Q18 shape (large-volume customers): the HAVING-filtered
      // per-order aggregate is tiny, so the join back onto orders and
      // customer broadcasts it; top-100 plans as TakeOrderedAndProject.
      val li = tbl(s, dir, "lineitem")
      (for {
        g   <- Group.agg(li, Seq("l_orderkey"),
                 Group.Agg(Seq(round(sum(col("l_quantity")), 4).as("sum_qty"))))
        big <- Filter.where(g, col("sum_qty") > 300)
        o    = tbl(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
        j1  <- Join.inner(o, big, Join.On(Seq("l_orderkey")))
        c    = tbl(s, dir, "customer")
                 .select(col("c_custkey").as("o_custkey"), col("c_name"))
        j2  <- Join.inner(j1, c, Join.On(Seq("o_custkey")))
        k   <- Order.topK(j2.select(col("c_name"), col("o_custkey").as("c_custkey"),
                 col("l_orderkey").as("o_orderkey"), col("o_orderdate"),
                 col("o_totalprice"), col("sum_qty")),
                 Seq(col("o_totalprice").desc, col("o_orderkey")), 100)
      } yield k).get
    }),

    "q109_tpch7" -> ((s, dir) => {
      // TPC-H Q7 shape (volume shipping): lineitem⋈orders shuffle with
      // customer/supplier and BOTH nation aliases broadcast; revenue by
      // (supplier nation, customer nation, ship year).
      val li = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      val c = tbl(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      val sup = tbl(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      val n = tbl(s, dir, "nation")
      val custN = n.select(col("n_nationkey").as("c_nationkey"),
        col("n_name").as("cust_nation"))
      val suppN = n.select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("supp_nation"))
      (for {
        j1 <- Join.inner(li, o, Join.On(Seq("l_orderkey")))
        j2 <- Join.inner(j1, c, Join.On(Seq("o_custkey")))
        j3 <- Join.inner(j2, sup, Join.On(Seq("l_suppkey")))
        j4 <- Join.broadcast(j3, custN, Seq("c_nationkey"))
        j5 <- Join.broadcast(j4, suppN, Seq("s_nationkey"))
        // decimal accumulation: 1246 output groups make double-sum
        // order noise at the cent-rounding boundary a certainty; the
        // 4-decimal cast is exact for 2-decimal TPC-H money and the
        // decimal sum is order-independent on both engines
        g  <- Group.agg(j5.withColumn("l_year", year(col("l_shipdate"))),
                Seq("supp_nation", "cust_nation", "l_year"),
                Group.Agg(Seq(
                  round(sum(col("l_extendedprice").cast("decimal(18,4)") *
                      (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))), 2)
                    .cast("double").as("revenue"),
                  count(lit(1)).as("n_rows"))))
        srt <- Order.by(g, Seq("supp_nation", "cust_nation", "l_year"))
      } yield srt).get
    }),

    "q106_decontaminate" -> ((s, dir) => {
      // Span-level decontamination: docs 0-19 are the benchmark; shared
      // 8-gram spans are excised from the rest (same split as q85, which
      // only FLAGS). Oracle regroups by gram string.
      val docs = tbl(s, dir, "documents")
      graft.operators.Segments.decontaminateSpans(
          docs.filter(col("doc_id") >= 20).select(col("doc_id"), col("text")),
          docs.filter(col("doc_id") < 20),
          "text", "doc_id", n = 8).get
        .select(col("doc_id"), col("text").as("text_clean"),
          col("n_tokens"), col("n_dropped"))
        .orderBy("doc_id")
    }),

    "q105_source_overlap" -> ((s, dir) => {
      // Dataset-level content overlap: exact distinct 3-gram Jaccard per
      // source pair. The oracle regroups by shingle STRING where the
      // operator uses its 64-bit hash (same collision argument as q102).
      graft.operators.Dedup.sourceOverlap(
          tbl(s, dir, "documents"), "text", "source", shingleSize = 3).get
        .orderBy("source_a", "source_b")
    }),

    "q104_chunk" -> ((s, dir) => {
      // Overlapping fixed-token chunks (40-token windows, stride 20):
      // per-row explode, no shuffle; the oracle replays the same
      // chunk-count formula with list_slice.
      graft.operators.Segments.chunk(
          tbl(s, dir, "documents").select(col("doc_id"), col("text")),
          "text", "doc_id", chunkTokens = 40, stride = 20).get
        .orderBy("doc_id", "chunk_id")
    }),

    "q103_pack" -> ((s, dir) => {
      // Sequence packing: next-fit char-budget bins per language, doc_id
      // order. The oracle replays the same sequential rule as a
      // recursive CTE (depth = largest group, ~120 rows at sf0.01).
      graft.operators.Sampling.packByTokenBudget(
          tbl(s, dir, "documents"), "doc_id", "n_chars",
          capacity = 5000L, groupCols = Seq("lang")).get
        .orderBy("lang", "doc_id")
    }),

    "q102_span_dedup" -> ((s, dir) => {
      // ExactSubstr-style span dedup: every non-first occurrence of a
      // duplicated 8-token span is cut out of the text. The oracle
      // regroups by the gram STRING where the operator groups by its
      // 64-bit hash — identical keeper choice absent collisions
      // (~6e-10 expected at this corpus's ~1.5e5 grams).
      graft.operators.Segments.spanDedup(
          tbl(s, dir, "documents").select(col("doc_id"), col("text")),
          "text", "doc_id", n = 8).get
        .select(col("doc_id"), col("text").as("text_clean"),
          col("n_tokens"), col("n_dropped"))
        .orderBy("doc_id")
    })
  )

  /** DuckDB-equivalent SQL per query (same table names = parquet files in
    * the sf dir). Omitted for operators whose semantics aren't
    * ANSI-SQL-expressible (LSH candidate generation, heuristic scores) —
    * the driver records a rows-only check for those. */
  /** Exact top-5 cosine neighbors for queries vec_id < 10 — the oracle for
    * both q38 (brute force) and q40 (IVF probing every cell ⇒ exhaustive).
    * Embeddings are cast float→double so DuckDB accumulates in double like
    * [[graft.functions.VecOps]]; round(.,6) absorbs summation-order noise. */
  /** Shared oracle CTEs recomputing the [[graft.operators.PortableLsh]]
    * 60-bit signature of every embedding: md5-derived ±1 sign matrix,
    * projection accumulated in double, bit j set when the projection is
    * positive — bit-for-bit the q37/q39 Spark-side fingerprints. */
  private val portableSigCtes: String =
    """WITH signs AS (
         SELECT jj.j AS j, ii.i AS i,
           CASE WHEN (CAST(('0x' || substring(
                  md5(CAST(jj.j AS VARCHAR) || '_' || CAST(ii.i AS VARCHAR)),
                  1, 15)) AS BIGINT) & 1) = 1 THEN 1 ELSE -1 END AS s
         FROM (SELECT unnest(range(0, 60)) AS j) jj,
              (SELECT unnest(range(0, 64)) AS i) ii
       ), proj AS (
         SELECT e.vec_id, sg.j,
           sum(CAST(e.embedding[sg.i + 1] AS DOUBLE) * sg.s) AS p
         FROM embeddings e, signs sg
         GROUP BY e.vec_id, sg.j
       ), sh AS (
         SELECT vec_id,
           CAST(sum(CASE WHEN p > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
                AS BIGINT) AS sh
         FROM proj GROUP BY vec_id
       )"""

  private val knnExactOracle: String =
    """WITH scored AS (
         SELECT q.vec_id AS queryId, c.vec_id AS neighborId,
           list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[])) AS c_raw
         FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         WHERE q.vec_id < 10
       ), ranked AS (
         SELECT queryId, neighborId, c_raw,
           row_number() OVER (PARTITION BY queryId
                              ORDER BY c_raw DESC, neighborId) AS rank
         FROM scored
       )
       SELECT queryId, neighborId, round(c_raw, 6) AS cosine,
         CAST(rank AS INTEGER) AS rank
       FROM ranked WHERE rank <= 5 ORDER BY queryId, rank"""

  /** Shared q357/q358 oracle CTEs: distinct (source, portable-hash) over
    * every word 3-gram shingle at salt "r11" — the md5 kernel of
    * [[graft.functions.TextFunctions.portableHash60]], replayed the
    * q34/q35 way. */
  private val kmvShingleHashCtes: String =
    """WITH toks AS (
         SELECT source,
           list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                       t -> t <> '') AS ts
         FROM documents
       ), sh AS (
         SELECT source,
           unnest(list_transform(range(1, len(ts)-1),
             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
         FROM toks WHERE len(ts) >= 3
       ), hx AS (
         SELECT DISTINCT source,
           CAST(('0x' || substring(md5('r11§' || g), 1, 15)) AS BIGINT) AS h
         FROM sh
       )"""

  /** `(k−1)·2⁶⁰` for k = 64 as an exact decimal literal — 63 × a power
    * of two is exactly representable, so this is the SAME double
    * [[graft.operators.Sketch]] computes driver-side. */
  private val kmvNum64: String =
    java.math.BigDecimal.valueOf(63.0 * math.pow(2, 60))
      .toBigInteger.toString + ".0"

  /** q357 AND q388's oracle: the direct per-source KMV(64) replay —
    * q357's (source, lang) build + merge collapses to this by the
    * lossless bottom-k merge; q388's parquet round trip must too. */
  private lazy val kmvPerSourceOracleSql: String =
    kmvShingleHashCtes + s""", rk AS (
           SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS r
           FROM hx
         ), ag AS (
           SELECT source, CAST(count(*) AS INTEGER) AS n_kmv, max(h) AS kth
           FROM rk WHERE r <= 64 GROUP BY source
         )
         SELECT source, n_kmv,
           round(CASE WHEN n_kmv < 64 THEN CAST(n_kmv AS DOUBLE)
             ELSE $kmvNum64 / (CAST(kth AS DOUBLE) + 1.0) END + 1e-9, 6)
             AS n_distinct_approx
         FROM ag ORDER BY source"""

  /** q368's oracle, generated: the Poisson-bootstrap replay — the salted
    * 52-bit dyadic draw against the SAME [[graft.operators.Stats.poissonCdf1]]
    * ladder literals, exact scaled sums per replicate, grid-rank CI. */
  private def poissonBootstrapOracleSql(
      nBoot: Int, alpha: Double, salt: String,
      byFlag: Boolean = false): String = {
    val ladder = graft.operators.Stats.poissonCdf1.zipWithIndex
      .map { case (c, k) =>
        s"WHEN u < ${java.lang.Double.toString(c)} THEN ${k}" }
      .mkString("CASE ", " ", " ELSE 9 END")
    val pLo = java.lang.Double.toString(alpha / 2)
    val pHi = java.lang.Double.toString(1.0 - alpha / 2)
    val kSel = if (byFlag) "l_returnflag, " else ""
    val kGrp = if (byFlag) "GROUP BY l_returnflag, b" else "GROUP BY b"
    val kGrp1 = if (byFlag) "GROUP BY l_returnflag, est" else "GROUP BY est"
    val kPart = if (byFlag) "PARTITION BY l_returnflag " else ""
    val kStGrp = if (byFlag) "GROUP BY l_returnflag" else ""
    val kJoinLo = if (byFlag) "ON lo.l_returnflag = st.l_returnflag"
      else "ON TRUE"
    val kJoinHi = if (byFlag) "ON hi.l_returnflag = st.l_returnflag"
      else "ON TRUE"
    val kOut = if (byFlag) "st.l_returnflag, " else ""
    val kOrd = if (byFlag) "ORDER BY st.l_returnflag" else ""
    s"""WITH base AS (
         SELECT ${kSel}l_orderkey, l_linenumber, l_partkey,
           CAST(round(CAST(l_discount AS DOUBLE) * 100.0) AS BIGINT) AS c
         FROM lineitem WHERE l_discount IS NOT NULL
       ), drawn AS (
         SELECT ${kSel}bb.b AS b, base.c,
           ((CAST(('0x' || substring(md5(
               CAST(l_orderkey AS VARCHAR) || '§'
               || CAST(l_linenumber AS VARCHAR) || '§'
               || CAST(l_partkey AS VARCHAR) || '§$salt§'
               || CAST(bb.b AS VARCHAR)), 1, 15)) AS BIGINT)
             & 4503599627370495) + 0.5) / 4503599627370496.0 AS u
         FROM base, (SELECT unnest(range(0, $nBoot)) AS b) bb
       ), reps AS (
         SELECT ${kSel}b,
           CAST(sum(($ladder) * c) AS BIGINT) AS sy,
           CAST(sum($ladder) AS BIGINT) AS sw
         FROM drawn $kGrp
       ), ests AS (
         SELECT $kSel(CAST(sy AS DOUBLE) / CAST(sw AS DOUBLE)) / 100.0
           AS est
         FROM reps WHERE sw > 0
       ), grid AS (
         SELECT ${kSel}est, CAST(count(*) AS BIGINT) AS t FROM ests
         $kGrp1
       ), cum AS (
         SELECT ${kSel}est, t,
           sum(t) OVER (${kPart}ORDER BY est
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
           sum(t) OVER ($kPart) AS nb
         FROM grid
       ), lo AS (
         SELECT ${kSel}est AS ci_lo, nb FROM cum
         WHERE cc >= greatest(1, CAST(ceil($pLo * CAST(nb AS DOUBLE))
             AS BIGINT))
           AND cc - t < greatest(1, CAST(ceil($pLo * CAST(nb AS DOUBLE))
             AS BIGINT))
       ), hi AS (
         SELECT ${kSel}est AS ci_hi FROM cum
         WHERE cc >= greatest(1, CAST(ceil($pHi * CAST(nb AS DOUBLE))
             AS BIGINT))
           AND cc - t < greatest(1, CAST(ceil($pHi * CAST(nb AS DOUBLE))
             AS BIGINT))
       ), st AS (
         SELECT ${kSel}CAST(count(*) AS BIGINT) AS n,
           (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 100.0
             AS theta
         FROM base $kStGrp
       )
       SELECT ${kOut}st.n, round(st.theta + 1e-9, 6) AS theta,
         CAST(lo.nb AS BIGINT) AS n_boot,
         round(lo.ci_lo + 1e-9, 6) AS ci_lo,
         round(hi.ci_hi + 1e-9, 6) AS ci_hi
       FROM st JOIN lo $kJoinLo JOIN hi $kJoinHi $kOrd"""
  }

  /** q384's oracle, generated: the Wilson closed form with z and z²
    * embedded as the operator's own driver-computed literals. */
  private def wilsonOracleSql: String = {
    val z = 1.959963984540054
    val zs = java.lang.Double.toString(z)
    val z2s = java.lang.Double.toString(z * z)
    s"""WITH g AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_pos
         FROM documents
         WHERE n_chars IS NOT NULL AND source IS NOT NULL GROUP BY 1
       ), t AS (
         SELECT source, n, n_pos,
           CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS ph,
           1.0 + $z2s / CAST(n AS DOUBLE) AS den,
           CAST(n AS DOUBLE) AS nd
         FROM g
       )
       SELECT source, n, n_pos,
         round(ph + 1e-9, 6) AS p,
         round(((ph + $z2s / (2.0 * nd)) / den -
           ($zs * sqrt(ph * (1.0 - ph) / nd + $z2s / ((4.0 * nd) * nd)))
             / den) + 1e-9, 6) AS wilson_lo,
         round(((ph + $z2s / (2.0 * nd)) / den +
           ($zs * sqrt(ph * (1.0 - ph) / nd + $z2s / ((4.0 * nd) * nd)))
             / den) + 1e-9, 6) AS wilson_hi
       FROM t ORDER BY source"""
  }

  /** q382's oracle, generated: the linear MMD pairing (salted-hash
    * buckets, rank alignment, consecutive pair-of-pairs) and all four
    * RBF kernels with the unrolled left-fold squared-L2 — op-for-op
    * the [[graft.operators.Stats.mmdLinear]] plan. */
  private def mmdOracleSql(
      gamma: Double, nBuckets: Int, salt: String, dim: Int): String = {
    def sq(a: String, b: String): String =
      (1 to dim).map(i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])")
        .mkString(" + ")
    def k(a: String, b: String): String =
      s"exp(${java.lang.Double.toString(-gamma)} * (${sq(a, b)}))"
    def sideCte(name: String, parity: Int): String =
      s"""$name AS (
           SELECT CAST(embedding AS DOUBLE[]) AS v,
             CAST(('0x' || substring(md5('$salt§' ||
               CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
             vec_id
           FROM embeddings
           WHERE vec_id % 2 = $parity AND embedding IS NOT NULL
             AND vec_id IS NOT NULL
         ), r$name AS (
           SELECT v, h % $nBuckets AS bk,
             CAST(row_number() OVER (PARTITION BY h % $nBuckets
               ORDER BY h, vec_id) AS BIGINT) AS r
           FROM $name
         )"""
    s"""WITH ${sideCte("ea", 0)}, ${sideCte("eb", 1)}, j AS (
           SELECT rea.bk, rea.r, rea.v AS x, reb.v AS y,
             (rea.r + 1) // 2 AS p
           FROM rea JOIN reb ON rea.bk = reb.bk AND rea.r = reb.r
         ), z1 AS (
           SELECT bk, p, x AS x1, y AS y1 FROM j WHERE r % 2 = 1
         ), z2 AS (
           SELECT bk, p, x AS x2, y AS y2 FROM j WHERE r % 2 = 0
         ), hs AS (
           SELECT ((${k("x1", "x2")} + ${k("y1", "y2")}
             - ${k("x1", "y2")}) - ${k("x2", "y1")}) AS hv
           FROM z1 JOIN z2 ON z1.bk = z2.bk AND z1.p = z2.p
         ), ag AS (
           SELECT CAST(count(*) AS BIGINT) AS np, sum(hv) AS sh,
             sum(hv * hv) AS sh2
           FROM hs
         )
         SELECT np AS n_pairs,
           round(CASE WHEN np > 0 THEN sh / CAST(np AS DOUBLE) END
             + 1e-9, 6) AS mmd2,
           round(CASE WHEN np >= 2 THEN
             sqrt(((sh2 - (sh * sh) / CAST(np AS DOUBLE)) /
               (CAST(np AS DOUBLE) - 1.0)) / CAST(np AS DOUBLE))
             END + 1e-9, 6) AS se,
           round(CASE WHEN np >= 2 AND
               (sh2 - (sh * sh) / CAST(np AS DOUBLE)) > 0 THEN
             (sh / CAST(np AS DOUBLE)) /
               sqrt(((sh2 - (sh * sh) / CAST(np AS DOUBLE)) /
                 (CAST(np AS DOUBLE) - 1.0)) / CAST(np AS DOUBLE))
             END + 1e-9, 6) AS z
         FROM ag"""
  }

  /** q366/q367 oracle CTEs: calibration residual grid over odd
    * orderkeys, cumulative rank pick at ceil((n+1)·0.9) — q355's
    * first-grid-row-reaching-the-rank convention. */
  private val conformalOracleCtes: String =
    """WITH cal AS (
         SELECT abs(CAST(l_extendedprice AS DOUBLE) -
           CAST(l_quantity AS DOUBLE) * 960.0) AS r
         FROM lineitem WHERE l_orderkey % 2 = 1
           AND l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
       ), grid AS (
         SELECT r, CAST(count(*) AS BIGINT) AS t FROM cal GROUP BY 1
       ), cum AS (
         SELECT r, t,
           sum(t) OVER (ORDER BY r
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
           sum(t) OVER () AS n
         FROM grid
       ), q AS (
         SELECT r AS qhat FROM cum
         WHERE c >= CAST(ceil(CAST(n + 1 AS DOUBLE) * 0.9) AS BIGINT)
           AND c - t < CAST(ceil(CAST(n + 1 AS DOUBLE) * 0.9) AS BIGINT)
       )"""

  /** Shared q366/q367 conformal frame: calibrate on odd orderkeys, test
    * on even, around the fixed model yhat = 960·l_quantity. */
  private def conformalGate(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
      .withColumn("__yhat", col("l_quantity").cast("double") * lit(960.0))
    graft.operators.Stats.splitConformal(
      li.filter(pmod(col("l_orderkey"), lit(2)) === 1),
      li.filter(pmod(col("l_orderkey"), lit(2)) === 0),
      "l_extendedprice", "__yhat", alpha = 0.1).get
  }

  /** Shared q363/q364 pair construction: candidate = each doc, reference
    * = the next doc by id — except every 5th doc references ITSELF plus
    * a 4-token suffix (high overlap, brevity penalty < 1). The oracle
    * CTEs rebuild the identical pairs. */
  private def bleuGatePairs(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    val nxt = d.select((col("doc_id") - 1).as("__pid"),
      col("text").as("__rtext"))
    d.join(nxt, col("doc_id") === col("__pid"))
      .withColumn("__ref",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" graft bleu pad tokens")))
          .otherwise(col("__rtext")))
  }

  /** q363/q364 oracle CTEs, generated: the pair construction, per-side
    * tokenization (the q34 idiom), n-gram lists for n = 1..`maxN` and
    * the clipped-match counts — all integer arithmetic. */
  private def bleuOracleCtes(maxN: Int): String = {
    def grams(ts: String, n: Int): String =
      if (n == 1) ts
      else {
        val cat = (0 until n).map(j =>
          if (j == 0) s"$ts[i]" else s"$ts[i+$j]").mkString(" || ' ' || ")
        s"list_transform(range(1, len($ts)-${n - 2}), i -> $cat)"
      }
    def clip(gc: String, gr: String): String =
      s"""list_sum(list_transform(list_distinct($gc),
           g -> least(len(list_filter($gc, x -> x = g)),
                      len(list_filter($gr, x -> x = g)))))"""
    val gramCols = (1 to maxN).flatMap(n => Seq(
      s"${grams("cts", n)} AS gc$n", s"${grams("rts", n)} AS gr$n"))
      .mkString(",\n             ")
    val clipCols = (1 to maxN).map(n =>
      s"${clip(s"gc$n", s"gr$n")} AS cl$n").mkString(",\n             ")
    val keepG = (1 to maxN).flatMap(n => Seq(s"gc$n", s"gr$n"))
      .mkString(", ")
    s"""WITH d AS (
         SELECT a.doc_id,
           a.text AS ct,
           CASE WHEN a.doc_id % 5 = 0
             THEN a.text || ' graft bleu pad tokens'
             ELSE b.text END AS rt
         FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
       ), tk AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(ct), '[ \t\n\r\f]+'),
                       t -> t <> '') AS cts,
           list_filter(string_split_regex(lower(rt), '[ \t\n\r\f]+'),
                       t -> t <> '') AS rts
         FROM d
       ), g AS (
         SELECT doc_id,
             $gramCols
         FROM tk
       ), cl AS (
         SELECT doc_id, $keepG,
             $clipCols
         FROM g
       )"""
  }

  /** q361's oracle, generated: the mSPRT prefix statistics replayed per
    * returnflag over (orderkey, linenumber) order. The scaled θ₀ and τ²
    * literals are computed by the SAME Scala expressions the operator
    * uses and embedded via Double.toString (exact round-trip), so the
    * only cross-engine float surfaces are ln/sqrt/exp last-ulp noise —
    * absorbed by the round-6 outputs. */
  private def msprtOracleSql(
      theta0: Double, tau2: Double, scaleDecimals: Int): String = {
    val sc = math.pow(10, scaleDecimals)
    val t0 = java.lang.Double.toString(theta0 * sc)
    val t2 = java.lang.Double.toString(tau2 * sc * sc)
    val scl = java.lang.Double.toString(sc)
    s"""WITH b AS (
         SELECT l_returnflag AS f, l_orderkey, l_linenumber,
           CAST(round(CAST(l_discount AS DOUBLE) * $scl) AS BIGINT) AS c
         FROM lineitem WHERE l_discount IS NOT NULL
       ), w AS (
         SELECT f,
           CAST(row_number() OVER (PARTITION BY f
             ORDER BY l_orderkey, l_linenumber, c) AS BIGINT) AS i,
           sum(c) OVER (PARTITION BY f
             ORDER BY l_orderkey, l_linenumber, c
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
           sum(c * c) OVER (PARTITION BY f
             ORDER BY l_orderkey, l_linenumber, c
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q2
         FROM b
       ), t AS (
         SELECT f, i,
           CAST(s AS DOUBLE) / CAST(i AS DOUBLE) AS xbar,
           (CAST(q2 AS DOUBLE) * CAST(i AS DOUBLE) -
             CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) /
             (CAST(i AS DOUBLE) * CAST(i AS DOUBLE)) AS v
         FROM w
       ), u AS (
         SELECT f, i, xbar, v,
           ((CAST(i AS DOUBLE) * CAST(i AS DOUBLE)) * $t2) *
             ((xbar - $t0) * (xbar - $t0)) AS nm,
           (2.0 * v) * (v + CAST(i AS DOUBLE) * $t2) AS dn,
           v / (v + CAST(i AS DOUBLE) * $t2) AS rt
         FROM t
       ), z AS (
         SELECT f, i, xbar,
           CASE WHEN v > 0 THEN 0.5 * ln(rt) + nm / dn END AS llr,
           CASE WHEN v > 0 THEN
             least(1.0, 1.0 / (sqrt(rt) * exp(nm / dn))) END AS p
         FROM u
       )
       SELECT f AS l_returnflag, i AS seq,
         round(xbar / $scl + 1e-9, 6) AS xbar,
         round(llr + 1e-9, 6) AS llr,
         round(min(p) OVER (PARTITION BY f ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9, 6)
           AS p_always
       FROM z ORDER BY f, i"""
  }

  /** q359's oracle, generated: `k−1` unrolled greedy k-center rounds
    * over the embeddings (seed = min id, ties to min id), the squared-L2
    * left fold written out term-by-term so DuckDB replays the SELECTION
    * bit-for-bit — argmax comparisons run on unrounded doubles that are
    * IEEE-identical to the Spark fold's. */
  private def kCenterOracleSql(k: Int, dim: Int): String = {
    def sq(a: String, b: String): String =
      (1 to dim).map(i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])")
        .mkString(" + ")
    val sb = new StringBuilder
    sb.append(
      """WITH e AS MATERIALIZED (
           SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings
         ), c1 AS MATERIALIZED (
           SELECT id, v FROM e ORDER BY id LIMIT 1
         ), d2 AS MATERIALIZED (
           SELECT e.id, e.v, """ + sq("e.v", "c.v") + """ AS d
           FROM e, c1 c WHERE e.id <> c.id
         )""")
    for (i <- 2 to k) {
      sb.append(s""", s$i AS MATERIALIZED (
           SELECT id, v, d FROM d$i ORDER BY d DESC, id LIMIT 1
         )""")
      if (i < k) sb.append(s""", d${i + 1} AS MATERIALIZED (
           SELECT p.id, p.v, least(p.d, ${sq("p.v", "c.v")}) AS d
           FROM d$i p, s$i c WHERE p.id <> c.id
         )""")
    }
    sb.append(
      "\n         SELECT 1 AS \"round\", id, CAST(NULL AS DOUBLE) " +
        "AS sel_dist FROM c1")
    for (i <- 2 to k)
      sb.append(
        s"""\n         UNION ALL SELECT $i, id, round(d + 1e-9, 6) FROM s$i""")
    sb.append("\n         ORDER BY \"round\"")
    sb.toString
  }

  /** q202's oracle, generated: `rounds` unrolled peel rounds over the
    * thresholded supplier co-occurrence graph. Peeling is idempotent
    * after convergence, so any `rounds` >= the actual peel depth (3 at
    * sf0.01) yields the true k-core — 8 leaves margin for regenerated
    * testdata without hand-editing 8 near-identical CTE blocks. */
  /** ONE stopword list for the q276 RAKE gate — the oracle SQL inlines
    * the same words; the two must never drift. */
  private val rakeStops: Seq[String] = Seq(
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
    "on", "with", "as", "this", "be", "are", "was", "at", "by", "an",
    "or", "from")

  private def rakeStopsSqlList: String =
    rakeStops.map(s => s"'$s'").mkString("(", ", ", ")")

  /** q275's oracle, generated: `rounds` unrolled H-index-propagation
    * steps over the q197 co-occurrence graph, replaying
    * [[graft.operators.Graph.coreNumber]] round-for-round (all-integer,
    * idempotent once converged — extra rounds are harmless). */
  private def coreNumberOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH m AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), pr AS MATERIALIZED (
           SELECT a.s AS x, b.s AS y FROM m a JOIN m b
             ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 150
         ), e AS MATERIALIZED (
           SELECT x AS src, y AS dst FROM pr
           UNION ALL SELECT y, x FROM pr
         ), h0 AS MATERIALIZED (
           SELECT src AS node, CAST(count(*) AS BIGINT) AS h
           FROM e GROUP BY src
         )""")
    for (i <- 1 to rounds) {
      sb.append(s""", h$i AS MATERIALIZED (
           SELECT src AS node, max(least(r, hv)) AS h FROM (
             SELECT e.src,
               CAST(row_number() OVER (PARTITION BY e.src
                 ORDER BY p.h DESC, e.dst) AS BIGINT) AS r,
               p.h AS hv
             FROM e JOIN h${i - 1} p ON p.node = e.dst)
           GROUP BY src
         )""")
    }
    sb.append(s"\n         SELECT node, h AS coreness FROM h$rounds ORDER BY node")
    sb.toString
  }

  /** q274's oracle, generated: `rounds` unrolled support-peeling rounds
    * over the q197 co-occurrence graph. Each round brute-forces the
    * a<b<c triangle closure (the SQL is the spec; orientation is the
    * scale path) and drops edges under k−2. Peeling is idempotent once
    * stable, so an unroll depth past convergence is harmless.
    * MATERIALIZED: DuckDB inlines multi-referenced CTEs, which would
    * re-expand the triangle join exponentially across rounds. */
  private def kTrussOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH m AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), e0 AS MATERIALIZED (
           SELECT a.s AS a, b.s AS b FROM m a JOIN m b
             ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 150
         )""")
    for (i <- 0 until rounds) {
      sb.append(s""", t$i AS MATERIALIZED (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM e$i e1 JOIN e$i e2 ON e2.a = e1.a AND e2.b > e1.b
           JOIN e$i e3 ON e3.a = e1.b AND e3.b = e2.b
         ), s$i AS MATERIALIZED (
           SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
             SELECT x AS a, y AS b FROM t$i
             UNION ALL SELECT x AS a, z AS b FROM t$i
             UNION ALL SELECT y AS a, z AS b FROM t$i
           ) GROUP BY a, b HAVING count(*) >= ${k - 2}
         ), e${i + 1} AS MATERIALIZED (SELECT a, b FROM s$i)""")
    }
    sb.append(s"\n         SELECT a AS src, b AS dst, support " +
      s"FROM s${rounds - 1} ORDER BY src, dst")
    sb.toString
  }

  /** q298's oracle, generated: the two Brandes phases unrolled over
    * the q199 supplier co-occurrence graph — forward CTEs v1..vD
    * (per-level path counts σ with a visited anti-join), backward
    * CTEs bD..b1 (δ = Σ σ_v/σ_w·(1+δ_w) over depth-consecutive
    * edges), then the per-node dependency sum over b1..bD. σ exact
    * longs; δ float sums → the gate rounds both sides. */
  private def betweennessOracleSql(maxDepth: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH m AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), pr AS (
           SELECT a.s AS x, b.s AS y FROM m a JOIN m b
             ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 150
         ), e AS (
           SELECT x AS src, y AS dst FROM pr
           UNION ALL SELECT y, x FROM pr
         ), nd AS (
           SELECT DISTINCT src AS node FROM e
         ), lm AS (
           SELECT node FROM nd ORDER BY node LIMIT 3
         ), v0 AS MATERIALIZED (
           SELECT node AS s, node, CAST(1 AS BIGINT) AS sigma FROM lm
         ), vis0 AS MATERIALIZED (SELECT s, node FROM v0)""")
    for (i <- 1 to maxDepth) {
      sb.append(s""", v$i AS MATERIALIZED (
           SELECT p.s, e.dst AS node, CAST(SUM(p.sigma) AS BIGINT) AS sigma
           FROM v${i - 1} p JOIN e ON e.src = p.node
           ANTI JOIN vis${i - 1} x ON x.s = p.s AND x.node = e.dst
           GROUP BY p.s, e.dst
         ), vis$i AS MATERIALIZED (
           SELECT * FROM vis${i - 1} UNION ALL SELECT s, node FROM v$i
         )""")
    }
    sb.append(s""", b$maxDepth AS MATERIALIZED (
           SELECT s, node, sigma, CAST(0 AS DOUBLE) AS delta
           FROM v$maxDepth)""")
    for (i <- (maxDepth - 1) to 1 by -1) {
      sb.append(s""", b$i AS MATERIALIZED (
           SELECT v.s, v.node, v.sigma,
             COALESCE(SUM(CAST(v.sigma AS DOUBLE) / w.sigma
               * (1 + w.delta)), 0) AS delta
           FROM v$i v
           LEFT JOIN e ON e.src = v.node
           LEFT JOIN b${i + 1} w ON w.s = v.s AND w.node = e.dst
           GROUP BY v.s, v.node, v.sigma
         )""")
    }
    val unions = (1 to maxDepth)
      .map(i => s"SELECT s, node, delta FROM b$i")
      .mkString("\n             UNION ALL ")
    sb.append(s"""
         SELECT nd.node,
           round(COALESCE(acc.bc, 0) + 1e-9, 6) AS betweenness
         FROM nd LEFT JOIN (
           SELECT node, SUM(delta) AS bc FROM (
             $unions
           ) u GROUP BY node) acc ON acc.node = nd.node
         ORDER BY nd.node""")
    sb.toString
  }

  /** q293's oracle, generated: tokenize (the q280 device), build the
    * adjacent-pair co-occurrence edge list, then replay the
    * weighted-PageRank recursion exactly as q199's oracle does —
    * (rank·17·w) div (20·outw) transfers, per-node teleport
    * scale·3/20, dangling share div n (always 0 on this symmetric
    * graph, kept for fidelity). */
  private def textrankOracleSql(iterations: Int, topK: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f]+'),
                         t -> len(t) > 0) AS t
           FROM documents WHERE text IS NOT NULL
         ), tok AS (
           SELECT doc_id, unnest(t) AS g,
             generate_subscripts(t, 1) AS i
           FROM toks
         ), pr AS (
           SELECT least(a.g, b.g) AS x, greatest(a.g, b.g) AS y,
             CAST(count(*) AS BIGINT) AS w
           FROM tok a JOIN tok b
             ON a.doc_id = b.doc_id AND b.i = a.i + 1 AND a.g <> b.g
           GROUP BY 1, 2
         ), e AS (
           SELECT x AS src, y AS dst, w FROM pr
           UNION ALL SELECT y, x, w FROM pr
         ), nd AS (
           SELECT DISTINCT src AS node FROM e
         ), deg AS (
           SELECT src AS node, SUM(w) AS outw FROM e GROUP BY src
         ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd
         ), r0 AS (
           SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nd
         )""")
    for (i <- 1 to iterations) {
      sb.append(s""", d$i AS (
           SELECT COALESCE(SUM((r.rank * 17) // 20), 0)
             // (SELECT n FROM nn) AS ds
           FROM r${i - 1} r LEFT JOIN deg d ON d.node = r.node
           WHERE d.node IS NULL
         ), i$i AS (
           SELECT e.dst AS node,
             SUM((r.rank * 17 * e.w) // (20 * d.outw)) AS im
           FROM e JOIN r${i - 1} r ON r.node = e.src
             JOIN deg d ON d.node = e.src
           GROUP BY e.dst
         ), r$i AS (
           SELECT nd.node,
             COALESCE(i$i.im, 0) + 150000000 + (SELECT ds FROM d$i) AS rank
           FROM nd LEFT JOIN i$i ON i$i.node = nd.node
         )""")
    }
    sb.append(s"""
         SELECT node AS token, CAST(rank AS BIGINT) AS rank,
           CAST(rank AS DOUBLE) /
             CAST((SELECT n FROM nn) * 1000000000 AS DOUBLE) AS score
         FROM r$iterations ORDER BY rank DESC, token LIMIT $topK""")
    sb.toString
  }

  /** q292's oracle, generated: the DTW DP unrolled over fixed-length
    * series — one CTE stage per row i of the cost matrix, each stage's
    * column j holding dp(i, j). Column prefixes alternate c/d per
    * stage so a stage's lateral aliases (cell j reads cell j−1 of the
    * SAME stage) can't collide with the previous stage's columns.
    * With ×100-integral series every in-band cell is an exact
    * integer-valued double and the 1e308 boundary absorbs additions
    * exactly, so the replay is bit-identical to
    * [[graft.functions.DtwImpl]]. */
  private def dtwOracleSql(len: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH cells AS (
           SELECT event_type, CAST(hour(ts) AS INT) AS h,
             sum(round(value * 100)) AS v
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, hour(ts)
         ), grid AS (
           SELECT t.event_type, g.h
           FROM (SELECT DISTINCT event_type FROM events) t,
                (SELECT unnest(range(0, """ + len + """)) AS h) g
         ), f AS (
           SELECT grid.event_type, grid.h,
             CAST(COALESCE(cells.v, 0) AS DOUBLE) AS v
           FROM grid LEFT JOIN cells
             ON cells.event_type = grid.event_type AND cells.h = grid.h
         ), series AS (
           SELECT event_type AS k, list(v ORDER BY h) AS s FROM f
           GROUP BY event_type
         ), r0 AS (
           SELECT a.k AS key_a, b.k AS key_b, a.s AS sa, b.s AS sb,
             0.0 AS c0""")
    for (j <- 1 to len) sb.append(s", 1e308 AS c$j")
    sb.append("\n           FROM series a JOIN series b ON a.k < b.k)")
    for (i <- 1 to len) {
      val (np, op) = (if (i % 2 == 1) "d" else "c", if (i % 2 == 1) "c" else "d")
      sb.append(s""", r$i AS (
           SELECT key_a, key_b, sa, sb, 1e308 AS ${np}0""")
      for (j <- 1 to len)
        sb.append(s""",
             abs(sa[$i] - sb[$j]) + least($op$j, $np${j - 1}, $op${j - 1}) AS $np$j""")
      sb.append(s"\n           FROM r${i - 1})")
    }
    val last = if (len % 2 == 1) "d" else "c"
    sb.append(s"""
         SELECT key_a, key_b, CAST(len(sa) AS BIGINT) AS n_a,
           CAST(len(sb) AS BIGINT) AS n_b, $last$len AS dtw
         FROM r$len ORDER BY key_a, key_b""")
    sb.toString
  }

  /** q345/q346 oracle, generated over a train-side filter: the
    * interpolated-KN grids (bigram counts, context totals, forward and
    * backward continuation fan-outs, distinct-bigram scalar) and the
    * exact probability CASE shape of
    * [[graft.operators.LmScore.knBigramScores]]. */
  private def knOracleSql(trainWhere: String): String =
    s"""WITH tl AS (
           SELECT doc_id, source, list_filter(
             string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f]+'),
             x -> x <> '') AS l
           FROM documents
         ), bg AS MATERIALIZED (
           SELECT doc_id, source,
             unnest(l[1:len(l) - 1]) AS w1, unnest(l[2:len(l)]) AS w2
           FROM tl WHERE len(l) >= 2
         ), c2 AS MATERIALIZED (
           SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
           FROM bg $trainWhere GROUP BY 1, 2
         ), cx AS (
           SELECT w1, CAST(sum(c2) AS BIGINT) AS ctx,
             CAST(count(*) AS BIGINT) AS n1f
           FROM c2 GROUP BY 1
         ), nb AS (
           SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM c2 GROUP BY 1
         ), bt AS (SELECT CAST(count(*) AS BIGINT) AS B FROM c2),
         p0 AS (
           SELECT g.doc_id,
             CASE WHEN cx.ctx IS NULL THEN
               coalesce(CAST(nb.n1b AS DOUBLE) / CAST(bt.B AS DOUBLE),
                 1e-10)
             ELSE
               (greatest(CAST(coalesce(c.c2, 0) AS DOUBLE) - 0.75, 0.0) +
                0.75 * CAST(cx.n1f AS DOUBLE) *
                coalesce(CAST(nb.n1b AS DOUBLE) / CAST(bt.B AS DOUBLE),
                  0.0)) / CAST(cx.ctx AS DOUBLE)
             END AS p
           FROM bg g
           LEFT JOIN c2 c ON c.w1 = g.w1 AND c.w2 = g.w2
           LEFT JOIN cx ON cx.w1 = g.w1
           LEFT JOIN nb ON nb.w2 = g.w2
           CROSS JOIN bt
         )
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln(CASE WHEN p > 0 THEN p ELSE 1e-10 END)), 6)
             AS avg_logprob,
           round(exp(-avg(ln(CASE WHEN p > 0 THEN p ELSE 1e-10 END))), 4)
             AS perplexity
         FROM p0 GROUP BY doc_id ORDER BY doc_id"""

  /** q349/q350 oracle CTEs over a document text expression: the CDC
    * pipeline of [[graft.operators.Cdc.chunks]] replayed at the gate
    * knobs (bits=5 → mask 31, window 8, min 16, max 96) — candidate
    * grid, greedy-min list_reduce fold, max-stride split, chunk md5. */
  private def cdcOracleCtes(textExpr: String): String =
    s"""WITH d AS (
           SELECT doc_id, $textExpr AS s FROM documents
           WHERE text IS NOT NULL
         ), dd AS MATERIALIZED (
           SELECT doc_id, s, CAST(len(s) AS BIGINT) AS l FROM d
           WHERE len(s) >= 1
         ), c AS (
           SELECT doc_id, p FROM (
             SELECT doc_id, s, unnest(generate_series(8, l - 1)) AS p
             FROM dd WHERE l >= 8)
           WHERE (CAST(('0x' || substring(md5(s[(p - 7):p]), 1, 15))
             AS BIGINT) & 31) = 0
         ), cl AS (
           SELECT doc_id, list_sort(list(p)) AS cands FROM c GROUP BY 1
         ), acc AS MATERIALIZED (
           -- fold written as ONE list_concat expression: DuckDB 1.0's
           -- list_reduce returns a corrupted accumulator when a CASE
           -- branch yields the bare `a` over table-sourced input
           -- (verified: literal input folds correctly, the identical
           -- fold over a VALUES/table column drops the prefix)
           SELECT dd.doc_id, dd.s,
             list_append(list_reduce(
               list_prepend([CAST(0 AS BIGINT)],
                 list_transform(coalesce(cl.cands, CAST([] AS BIGINT[])),
                   x -> [x])),
               (a, x) -> list_concat(a,
                 CASE WHEN x[1] - a[-1] >= 16 THEN [x[1]]
                   ELSE CAST([] AS BIGINT[]) END)), dd.l) AS bounds
           FROM dd LEFT JOIN cl USING (doc_id)
         ), pr AS (
           SELECT doc_id, s, bounds[i] AS lo, bounds[i + 1] AS hi
           FROM (SELECT doc_id, s, bounds,
                   unnest(generate_series(1, len(bounds) - 1)) AS i
                 FROM acc)
           WHERE bounds[i + 1] > bounds[i]
         ), st AS (
           SELECT doc_id, s, hi,
             unnest(generate_series(lo, hi - 1, 96)) AS cstart
           FROM pr
         ), ch AS (
           SELECT doc_id,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY cstart)
               AS BIGINT) AS chunk_idx,
             cstart + 1 AS "start",
             least(96, hi - cstart) AS chunk_len,
             md5(s[(cstart + 1):(cstart + least(96, hi - cstart))])
               AS chunk_md5
           FROM st
         )"""

  /** Merge count for the q340/q341 BPE gates — small enough to unroll
    * in the oracle, deep enough that a single wrong merge cascades. */
  private val BpeGateMerges = 12

  /** q340/q341 oracle CTEs, generated: the BPE merge loop unrolled —
    * per step, pair statistics over the current word-symbol table, the
    * (cnt DESC, l, r) argmax, and the greedy left-to-right merge fold
    * via `list_reduce` over singleton-wrapped symbols (seeding with the
    * first element — equivalent to Spark's empty-accumulator
    * `aggregate`, verified in BpeSpec's in-memory reference). CTEs are
    * MATERIALIZED: w{i-1} is referenced twice per step and DuckDB
    * inlining would go exponential in the unroll depth. */
  private def bpeOracleCtes(numMerges: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH toks AS MATERIALIZED (
           SELECT doc_id, unnest(list_filter(
             string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
             t -> t <> '')) AS word
           FROM documents WHERE text IS NOT NULL
         ), w0 AS MATERIALIZED (
           SELECT word, CAST(count(*) AS BIGINT) AS freq,
             list_transform(generate_series(1, len(word)), i -> word[i:i]) AS syms
           FROM toks GROUP BY word
         )""")
    for (i <- 1 to numMerges) {
      sb.append(s""", p$i AS MATERIALIZED (
           SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
             SELECT syms[j] AS l, syms[j + 1] AS r, freq FROM (
               SELECT syms, freq,
                 unnest(generate_series(1, len(syms) - 1)) AS j
               FROM w${i - 1} WHERE len(syms) >= 2))
           GROUP BY l, r
         ), b$i AS MATERIALIZED (
           SELECT l, r, l || r AS m, cnt FROM p$i
           ORDER BY cnt DESC, l, r LIMIT 1
         ), w$i AS MATERIALIZED (
           SELECT word, freq,
             list_reduce(list_transform(syms, s -> [s]),
               (a, x) -> CASE WHEN a[-1] = b.l AND x[1] = b.r
                 THEN list_append(a[1:-2], b.m)
                 ELSE list_concat(a, x) END) AS syms
           FROM w${i - 1}, b$i b
         )""")
    }
    sb.toString
  }

  private def bpeMergesOracleSql(numMerges: Int): String =
    bpeOracleCtes(numMerges) + "\n         SELECT * FROM (" +
      (1 to numMerges).map { i =>
        s"""SELECT $i AS step, l AS left_sym, r AS right_sym,
           m AS merged, cnt AS pair_count FROM b$i"""
      }.mkString("\n         UNION ALL ") +
      ") ORDER BY step"

  private def bpeTokenCountsOracleSql(numMerges: Int): String =
    bpeOracleCtes(numMerges) + s"""
         SELECT t.doc_id, CAST(sum(len(w.syms)) AS BIGINT) AS n_tokens
         FROM toks t JOIN w$numMerges w USING (word)
         GROUP BY t.doc_id ORDER BY doc_id"""

  /** q344's oracle: the learn CTEs on `documents` (b1..bN hold the
    * frozen merge table) plus the apply chain — the SAME greedy fold
    * replayed over `part.p_name`'s word table, one CTE per merge. */
  private def bpeApplyOracleSql(numMerges: Int): String = {
    val sb = new StringBuilder(bpeOracleCtes(numMerges))
    sb.append(
      """, ptoks AS MATERIALIZED (
           SELECT p_partkey, unnest(list_filter(
             string_split_regex(lower(trim(p_name)), '[ \t\n\r\f]+'),
             t -> t <> '')) AS word
           FROM part WHERE p_name IS NOT NULL
         ), a0 AS MATERIALIZED (
           SELECT word,
             list_transform(generate_series(1, len(word)), i -> word[i:i]) AS syms
           FROM (SELECT DISTINCT word FROM ptoks)
         )""")
    for (i <- 1 to numMerges) {
      sb.append(s""", a$i AS MATERIALIZED (
           SELECT word,
             list_reduce(list_transform(syms, s -> [s]),
               (a, x) -> CASE WHEN a[-1] = b.l AND x[1] = b.r
                 THEN list_append(a[1:-2], b.m)
                 ELSE list_concat(a, x) END) AS syms
           FROM a${i - 1}, b$i b
         )""")
    }
    sb.append(s"""
         SELECT t.p_partkey, CAST(sum(len(a.syms)) AS BIGINT) AS n_tokens
         FROM ptoks t JOIN a$numMerges a USING (word)
         GROUP BY t.p_partkey ORDER BY p_partkey""")
    sb.toString
  }

  /** q401's oracle: the corpus-derived vocabulary (alphabet ∪ the
    * 12-merge table's merged tokens, from the same learn CTEs as
    * q340) driven through the greedy longest-match segmentation,
    * unrolled to `steps` one-piece-per-step CTEs (each step consumes
    * ≥ 1 character, so any word of ≤ `steps` chars is fully
    * segmented; the synthetic corpus tops out at 8). The longest
    * matching prefix per word is a `max_by(tok, len(tok))` over the
    * vocab prefix join — unique per position, so deterministic. */
  private def vocabSegmentOracleSql(numMerges: Int, steps: Int): String =
    bpeOracleCtes(numMerges) + vocabGreedyCtes(numMerges, steps) + s"""
         SELECT word, freq,
           CAST(CASE WHEN failed THEN 1 ELSE np END AS INTEGER)
             AS n_pieces,
           CASE WHEN failed THEN '<unk>' ELSE seg END AS segmentation
         FROM s$steps ORDER BY word"""

  /** The greedy-segmentation CTE block shared by q401/q402: the
    * corpus vocabulary (w0 alphabet ∪ b1..bN merged tokens ∪ the
    * caller's extra UNION arms) and the unrolled longest-match steps
    * s0..s`steps` over w0's words. */
  private def vocabGreedyCtes(numMerges: Int, steps: Int,
      extraVocabSql: String = ""): String = {
    val sb = new StringBuilder
    sb.append(
      """, vocab AS MATERIALIZED (
           SELECT DISTINCT tok FROM (
             SELECT unnest(list_transform(generate_series(1, len(word)),
               i -> word[i:i])) AS tok FROM w0""")
    for (i <- 1 to numMerges)
      sb.append(s"\n             UNION ALL SELECT m AS tok FROM b$i")
    sb.append(extraVocabSql)
    sb.append(
      """)
         ), s0 AS MATERIALIZED (
           SELECT word, freq, word AS rest, '' AS seg, 0 AS np,
             false AS failed
           FROM w0
         )""")
    for (i <- 1 to steps) {
      sb.append(s""", s$i AS MATERIALIZED (
           SELECT g.word, g.freq,
             CASE WHEN g.rest = '' OR g.failed THEN g.rest
                  WHEN b.tok IS NULL THEN ''
                  ELSE g.rest[len(b.tok)+1:] END AS rest,
             CASE WHEN g.rest = '' OR g.failed OR b.tok IS NULL THEN g.seg
                  WHEN g.seg = '' THEN b.tok
                  ELSE g.seg || ' ' || b.tok END AS seg,
             CASE WHEN g.rest = '' OR g.failed OR b.tok IS NULL THEN g.np
                  ELSE g.np + 1 END AS np,
             CASE WHEN g.failed THEN true
                  WHEN g.rest = '' THEN false
                  WHEN b.tok IS NULL THEN true ELSE false END AS failed
           FROM s${i - 1} g LEFT JOIN (
             SELECT s.word AS w, max_by(v.tok, len(v.tok)) AS tok
             FROM s${i - 1} s JOIN vocab v
               ON s.rest <> '' AND s.rest[1:len(v.tok)] = v.tok
             GROUP BY s.word
           ) b ON b.w = g.word
         )""")
    }
    sb.toString
  }

  /** q402's oracle: both unrolled applies joined on the shared word
    * table — exact occurrence-weighted token totals per algorithm and
    * the identical-segmentation agreement share. */
  private def applyCompareOracleSql(numMerges: Int, steps: Int): String =
    bpeOracleCtes(numMerges) + vocabGreedyCtes(numMerges, steps,
      extraVocabSql = """
             UNION ALL SELECT word AS tok FROM (
               SELECT word FROM w0 ORDER BY freq DESC, word LIMIT 5)""") + s"""
         SELECT n_words, n_tokens_bpe, n_tokens_greedy,
           round(CASE WHEN n_words > 0 THEN
             CAST(n_tokens_bpe AS DOUBLE) / n_words END + 1e-9, 6)
             AS tokens_per_word_bpe,
           round(CASE WHEN n_words > 0 THEN
             CAST(n_tokens_greedy AS DOUBLE) / n_words END + 1e-9, 6)
             AS tokens_per_word_greedy,
           round(CASE WHEN n_words > 0 THEN
             CAST(agree AS DOUBLE) / n_words END + 1e-9, 6)
             AS agreement_rate
         FROM (
           SELECT CAST(coalesce(sum(w.freq), 0) AS BIGINT) AS n_words,
             CAST(coalesce(sum(w.freq * len(w.syms)), 0) AS BIGINT)
               AS n_tokens_bpe,
             CAST(coalesce(sum(w.freq *
               (CASE WHEN s.failed THEN 1 ELSE s.np END)), 0) AS BIGINT)
               AS n_tokens_greedy,
             CAST(coalesce(sum(CASE WHEN array_to_string(w.syms, ' ') =
                 (CASE WHEN s.failed THEN '<unk>' ELSE s.seg END)
               THEN w.freq ELSE 0 END), 0) AS BIGINT) AS agree
           FROM w$numMerges w JOIN s$steps s USING (word))"""

  private def kCoreOracleSql(k: Long, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH m AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), pr AS (
           SELECT a.s AS x, b.s AS y FROM m a JOIN m b
             ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 150
         ), e AS (
           SELECT x AS src, y AS dst FROM pr
           UNION ALL SELECT y, x FROM pr
         ), a0 AS (SELECT DISTINCT src AS node FROM e)""")
    for (i <- 1 to rounds) {
      sb.append(s""", d$i AS (
           SELECT e.src AS node, CAST(count(*) AS BIGINT) AS c FROM e
           JOIN a${i - 1} x ON x.node = e.src
           JOIN a${i - 1} y ON y.node = e.dst
           GROUP BY e.src
         ), a$i AS (SELECT node FROM d$i WHERE c >= $k)""")
    }
    sb.append(
      s"\n         SELECT node, c AS core_degree FROM d$rounds WHERE c >= $k ORDER BY node")
    sb.toString
  }

  /** q329's oracle, generated: the DDSketch bucket map, cumulative pick
    * and midpoint estimate replayed over `l_extendedprice` per return
    * flag, joined with the exact rank-`⌊q(n−1)⌋+1` values and the α
    * bound. γ, γ+1 and ln γ are computed ONCE here with the same
    * double arithmetic [[graft.operators.Sketch.ddHistogram]] uses and
    * embedded as exact round-trip literals, so the only cross-engine
    * float surfaces are `ln(v)` (quotient-from-integer distance makes a
    * bucket flip astronomically unlikely on decimal prices) and the
    * midpoint `pow` (ulp noise absorbed by the 1e-9-shifted round). */
  private def ddQuantileOracleSql(alpha: Double, qs: Seq[Double]): String = {
    val gamma = (1 + alpha) / (1 - alpha)
    val lnG = math.log(gamma)
    def d2s(d: Double): String = java.lang.Double.toString(d)
    val qList = qs.map(d2s).mkString(", ")
    s"""WITH src AS (
           SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v
           FROM lineitem
         ), h AS (
           SELECT l_returnflag,
             CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS store,
             CASE WHEN v > 0 THEN CAST(ceil(ln(v) / ${d2s(lnG)}) AS BIGINT)
                  WHEN v < 0 THEN CAST(ceil(ln(-v) / ${d2s(lnG)}) AS BIGINT)
                  ELSE 0 END AS bucket,
             CAST(count(*) AS BIGINT) AS n
           FROM src GROUP BY 1, 2, 3
         ), c AS (
           SELECT l_returnflag, store, bucket,
             CAST(sum(n) OVER (PARTITION BY l_returnflag
               ORDER BY store, store * bucket
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(sum(n) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
           FROM h
         ), qs AS (SELECT unnest([$qList]::DOUBLE[]) AS q
         ), pick AS (
           SELECT l_returnflag, q, store, bucket FROM (
             SELECT c.l_returnflag, qs.q, c.store, c.bucket,
               row_number() OVER (PARTITION BY c.l_returnflag, qs.q
                 ORDER BY c.store, c.store * c.bucket) AS rn
             FROM c, qs
             WHERE c.cum >= CAST(floor(qs.q * CAST(c.tot - 1 AS DOUBLE))
               AS BIGINT) + 1
           ) WHERE rn = 1
         ), r AS (
           SELECT l_returnflag, v,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
             CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS cnt
           FROM src
         ), exact AS (
           SELECT r.l_returnflag, qs.q, r.v AS exact
           FROM r, qs
           WHERE r.rn = CAST(floor(qs.q * CAST(r.cnt - 1 AS DOUBLE))
             AS BIGINT) + 1
         ), est AS (
           SELECT l_returnflag, q,
             CASE store
               WHEN 1 THEN 2 * power(${d2s(gamma)}, bucket) / ${d2s(gamma + 1)}
               WHEN -1 THEN -2 * power(${d2s(gamma)}, bucket) / ${d2s(gamma + 1)}
               ELSE 0.0 END AS e
           FROM pick
         )
         SELECT est.l_returnflag, est.q AS q,
           round(est.e + 1e-9, 4) AS estimate,
           exact.exact AS exact,
           abs(est.e - exact.exact) <= ${d2s(alpha)} * abs(exact.exact) + 1e-9
             AS within_bound
         FROM est JOIN exact
           ON est.l_returnflag = exact.l_returnflag AND est.q = exact.q
         ORDER BY est.l_returnflag, q"""
  }

  /** q334's oracle, generated: the q329 DDSketch replay per hourly
    * `time_bucket` window and event type over the events stream —
    * identical baked-in ln γ / γ / γ+1 literals. */
  /** q393's oracle, generated: the SRM χ² GOF with the NORMALIZED
    * design ratios baked as the operator's own driver-computed double
    * literals (w / Σw — the division must replay bit-for-bit). */
  private def srmOracleSql(expected: Map[String, Double]): String = {
    val wSum = expected.values.sum
    val rows = expected.toSeq.sortBy(_._1)
    val arms = rows.map(r => s"'${r._1}'").mkString(", ")
    val ws = rows.map(r => java.lang.Double.toString(r._2 / wSum))
      .mkString(", ")
    s"""WITH counts AS (
         SELECT CAST(((o_orderkey % 3) + 3) % 3 AS VARCHAR) AS arm,
           CAST(count(*) AS BIGINT) AS n_obs
         FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1
       ), design AS (
         SELECT unnest([$arms]) AS arm,
           unnest([$ws]::DOUBLE[]) AS ratio_expected
       ), j AS (
         SELECT coalesce(design.arm, counts.arm) AS arm,
           coalesce(counts.n_obs, 0) AS n_obs,
           coalesce(design.ratio_expected, 0.0) AS ratio_expected
         FROM design FULL OUTER JOIN counts ON design.arm = counts.arm
       ), t AS (
         SELECT (SELECT CAST(sum(n_obs) AS BIGINT) FROM j) AS nn,
           (SELECT CAST(count(*) AS BIGINT) FROM design) AS k
       ), terms AS (
         SELECT j.arm, j.n_obs, j.ratio_expected,
           j.ratio_expected * CAST(t.nn AS DOUBLE) AS e,
           CASE WHEN j.ratio_expected * CAST(t.nn AS DOUBLE) > 0 THEN
             (CAST(j.n_obs AS DOUBLE) - j.ratio_expected * CAST(t.nn AS DOUBLE))
             * (CAST(j.n_obs AS DOUBLE) - j.ratio_expected * CAST(t.nn AS DOUBLE))
             / (j.ratio_expected * CAST(t.nn AS DOUBLE))
             ELSE 0.0 END AS term,
           t.k
         FROM j, t
       )
       SELECT arm, CAST(n_obs AS BIGINT) AS n_obs,
         round(ratio_expected + 1e-9, 6) AS ratio_expected,
         round(e + 1e-9, 6) AS n_expected,
         round(term + 1e-9, 6) AS chi2_term,
         round(least(sum(term) OVER (), 1.7976931348623157e308) + 1e-9, 6)
           AS chi2_total,
         CAST(k - 1 AS BIGINT) AS df
       FROM terms ORDER BY arm"""
  }

  /** q396's oracle, generated: the quantile-treatment-effect chain —
    * exact grid-rank group quantiles, the shared salted Poisson draw
    * (ladder literals baked), weighted replicate quantiles, and the
    * grid-rank CI picks over the replicate diffs. */
  private def quantileEffectOracleSql(
      p: Double, nBoot: Int, alpha: Double, salt: String): String = {
    val ladder = graft.operators.Stats.poissonCdf1.zipWithIndex
      .map { case (c, k) =>
        s"WHEN u < ${java.lang.Double.toString(c)} THEN ${k}" }
      .mkString("CASE ", " ", " ELSE 9 END")
    val ps = java.lang.Double.toString(p)
    val pLo = java.lang.Double.toString(alpha / 2)
    val pHi = java.lang.Double.toString(1.0 - alpha / 2)
    def rank(pp: String, w: String) =
      s"greatest(1, CAST(ceil($pp * CAST($w AS DOUBLE)) AS BIGINT))"
    s"""WITH base AS (
         SELECT (l_returnflag = 'R') AS t, l_orderkey, l_linenumber,
           l_partkey,
           CAST(round(CAST(l_quantity AS DOUBLE) * 1.0) AS BIGINT) AS c
         FROM lineitem
         WHERE l_quantity IS NOT NULL AND l_returnflag IN ('R', 'A')
       ), g0 AS (
         SELECT t, c, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1, 2
       ), p0 AS (
         SELECT t, c AS q FROM (
           SELECT t, c, n,
             sum(n) OVER (PARTITION BY t ORDER BY c
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n) OVER (PARTITION BY t) AS W
           FROM g0)
         WHERE cum >= ${rank(ps, "W")} AND cum - n < ${rank(ps, "W")}
       ), drawn AS (
         SELECT t, bb.b AS b, c,
           ((CAST(('0x' || substring(md5(
               CAST(l_orderkey AS VARCHAR) || '§'
               || CAST(l_linenumber AS VARCHAR) || '§'
               || CAST(l_partkey AS VARCHAR) || '§$salt§'
               || CAST(bb.b AS VARCHAR)), 1, 15)) AS BIGINT)
             & 4503599627370495) + 0.5) / 4503599627370496.0 AS u
         FROM base, (SELECT unnest(range(0, $nBoot)) AS b) bb
       ), gb AS (
         SELECT t, b, c, CAST(sum($ladder) AS BIGINT) AS wt
         FROM drawn GROUP BY 1, 2, 3
       ), qb AS (
         SELECT t, b, c AS q FROM (
           SELECT t, b, c, wt,
             sum(wt) OVER (PARTITION BY t, b ORDER BY c
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(wt) OVER (PARTITION BY t, b) AS W
           FROM gb)
         WHERE cum >= ${rank(ps, "W")} AND cum - wt < ${rank(ps, "W")}
       ), dd AS (
         SELECT a.q - o.q AS d FROM qb a
         JOIN qb o ON a.b = o.b AND a.t AND NOT o.t
       ), dgrid AS (
         SELECT d, CAST(count(*) AS BIGINT) AS tt FROM dd GROUP BY 1
       ), dcum AS (
         SELECT d, tt,
           sum(tt) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cc,
           sum(tt) OVER () AS nb
         FROM dgrid
       ), lo AS (
         SELECT d AS vlo, nb FROM dcum
         WHERE cc >= ${rank(pLo, "nb")} AND cc - tt < ${rank(pLo, "nb")}
       ), hi AS (
         SELECT d AS vhi FROM dcum
         WHERE cc >= ${rank(pHi, "nb")} AND cc - tt < ${rank(pHi, "nb")}
       ), nr AS (
         SELECT CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_treat,
           CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ctrl
         FROM base
       ), pq AS (
         SELECT max(CASE WHEN t THEN q END) AS qt,
           max(CASE WHEN NOT t THEN q END) AS qc
         FROM p0
       )
       SELECT nr.n_treat, nr.n_ctrl, CAST($ps AS DOUBLE) AS q,
         round(CAST(pq.qt - pq.qc AS DOUBLE) / 1.0 + 1e-9, 6) AS qte,
         CAST(coalesce(lo.nb, 0) AS BIGINT) AS n_boot,
         round(CAST(lo.vlo AS DOUBLE) / 1.0 + 1e-9, 6) AS ci_lo,
         round(CAST(hi.vhi AS DOUBLE) / 1.0 + 1e-9, 6) AS ci_hi
       FROM nr CROSS JOIN pq
       LEFT JOIN lo ON TRUE LEFT JOIN hi ON TRUE"""
  }

  /** q395's oracle, generated: the streaming SRM chain replayed —
    * per-day exact (window, arm) counts, the key-grid × design join,
    * per-window χ² terms and capped totals, the design df. */
  private def streamSrmOracleSql(expected: Map[String, Double]): String = {
    val wSum = expected.values.sum
    val rows = expected.toSeq.sortBy(_._1)
    val arms = rows.map(r => s"'${r._1}'").mkString(", ")
    val ws = rows.map(r => java.lang.Double.toString(r._2 / wSum))
      .mkString(", ")
    val rogue = java.lang.Double.toString(Double.MaxValue / 65536)
    s"""WITH obs AS (
         SELECT time_bucket(INTERVAL '1 day', ts) AS ws,
           CAST(((event_id % 3) + 3) % 3 AS VARCHAR) AS arm,
           CAST(count(*) AS BIGINT) AS n_obs
         FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
         GROUP BY 1, 2
       ), design AS (
         SELECT unnest([$arms]) AS arm,
           unnest([$ws]::DOUBLE[]) AS ratio_expected
       ), grid AS (
         SELECT k.ws, d.arm, d.ratio_expected
         FROM (SELECT DISTINCT ws FROM obs) k, design d
       ), j AS (
         SELECT coalesce(grid.ws, obs.ws) AS ws,
           coalesce(grid.arm, obs.arm) AS arm,
           coalesce(obs.n_obs, 0) AS n_obs,
           coalesce(grid.ratio_expected, 0.0) AS ratio_expected
         FROM grid FULL OUTER JOIN obs
           ON grid.ws = obs.ws AND grid.arm = obs.arm
       ), t AS (
         SELECT *, ratio_expected *
           CAST(sum(n_obs) OVER (PARTITION BY ws) AS DOUBLE) AS e
         FROM j
       ), terms AS (
         SELECT *, CASE WHEN e > 0 THEN
             (CAST(n_obs AS DOUBLE) - e) * (CAST(n_obs AS DOUBLE) - e) / e
           ELSE CASE WHEN n_obs > 0 THEN $rogue ELSE 0.0 END END AS term
         FROM t
       )
       SELECT ws, arm, CAST(n_obs AS BIGINT) AS n_obs,
         round(ratio_expected + 1e-9, 6) AS ratio_expected,
         round(e + 1e-9, 6) AS n_expected,
         round(term + 1e-9, 6) AS chi2_term,
         round(least(sum(term) OVER (PARTITION BY ws),
           1.7976931348623157e308) + 1e-9, 6) AS chi2_total,
         CAST(${expected.size - 1} AS BIGINT) AS df
       FROM terms ORDER BY ws, arm"""
  }

  /** q394's oracle, generated: post-stratified mean with the
    * normalized target weights baked as driver doubles; per-stratum
    * exact sums, the design LEFT JOIN, the observed==design guard. */
  private def postStratOracleSql(weights: Map[String, Double]): String = {
    val wSum = weights.values.sum
    val rows = weights.toSeq.sortBy(_._1)
    val hs = rows.map(r => s"'${r._1}'").mkString(", ")
    val ws = rows.map(r => java.lang.Double.toString(r._2 / wSum))
      .mkString(", ")
    s"""WITH g AS (
         SELECT CAST(l_returnflag AS VARCHAR) AS h,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(CAST(l_extendedprice AS DOUBLE) * 1.0)
             AS BIGINT)) AS s,
           sum(CAST(round(CAST(l_extendedprice AS DOUBLE) * 1.0)
               AS BIGINT) *
             CAST(round(CAST(l_extendedprice AS DOUBLE) * 1.0)
               AS BIGINT)) AS q
         FROM lineitem
         WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
         GROUP BY 1
       ), design AS (
         SELECT unnest([$hs]) AS h, unnest([$ws]::DOUBLE[]) AS w
       ), grid AS (
         SELECT design.h, design.w, g.n, g.s, g.q
         FROM design LEFT JOIN g ON design.h = g.h
       )
       SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_strata_design,
         CAST(count(n) AS BIGINT) AS n_strata_observed,
         round(CAST(sum(s) AS DOUBLE) / CAST(sum(n) AS DOUBLE) / 1.0
           + 1e-9, 6) AS mean_raw,
         round(CASE WHEN count(n) = count(*) THEN
           sum(w * ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 1.0)) END
           + 1e-9, 6) AS mean_post,
         round(CASE WHEN count(n) = count(*) AND min(n) >= 2 THEN
           sqrt(sum((w * w) *
             ((((CAST(q AS DOUBLE) * CAST(n AS DOUBLE)
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 1.0)
              / CAST(n AS DOUBLE)))) END + 1e-9, 6) AS se_post
       FROM grid"""
  }

  /** q334/q387's oracle, generated: the DDSketch chain (bucket map with
    * the same baked-in ln γ, cumulative rank picks, midpoint estimate)
    * replayed per (window, event_type) — or, with `windowed = false`,
    * per event_type ONLY while the gate query merges DRAINED per-window
    * sketches, so equality proves the cross-window merge is lossless
    * (the q387 merge law). */
  private def ddStreamQuantileOracleSql(
      alpha: Double, qs: Seq[Double], windowed: Boolean = true): String = {
    val gamma = (1 + alpha) / (1 - alpha)
    val lnG = math.log(gamma)
    def d2s(d: Double): String = java.lang.Double.toString(d)
    val qList = qs.map(d2s).mkString(", ")
    val wsSel = if (windowed) "ws, " else ""
    val wsOut = if (windowed) "ws, " else ""
    val wsGrp = if (windowed) "1, 2, 3, 4" else "1, 2, 3"
    val wsPart = if (windowed) "ws, event_type" else "event_type"
    val wsOrd = if (windowed) "ws, event_type, q" else "event_type, q"
    s"""WITH src AS (
           SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
             CAST(value AS DOUBLE) AS v
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         ), h AS (
           SELECT ${wsSel}event_type,
             CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS store,
             CASE WHEN v > 0 THEN CAST(ceil(ln(v) / ${d2s(lnG)}) AS BIGINT)
                  WHEN v < 0 THEN CAST(ceil(ln(-v) / ${d2s(lnG)}) AS BIGINT)
                  ELSE 0 END AS bucket,
             CAST(count(*) AS BIGINT) AS n
           FROM src GROUP BY $wsGrp
         ), c AS (
           SELECT ${wsSel}event_type, store, bucket,
             CAST(sum(n) OVER (PARTITION BY $wsPart
               ORDER BY store, store * bucket
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(sum(n) OVER (PARTITION BY $wsPart) AS BIGINT) AS tot
           FROM h
         ), qs AS (SELECT unnest([$qList]::DOUBLE[]) AS q
         ), pick AS (
           SELECT ${wsSel}event_type, q, store, bucket FROM (
             SELECT c.*, qs.q,
               row_number() OVER (PARTITION BY $wsPart, qs.q
                 ORDER BY c.store, c.store * c.bucket) AS rn
             FROM c, qs
             WHERE c.cum >= CAST(floor(qs.q * CAST(c.tot - 1 AS DOUBLE))
               AS BIGINT) + 1
           ) WHERE rn = 1
         )
         SELECT ${wsOut}event_type, q,
           round(CASE store
             WHEN 1 THEN 2 * power(${d2s(gamma)}, bucket) / ${d2s(gamma + 1)}
             WHEN -1 THEN -2 * power(${d2s(gamma)}, bucket) / ${d2s(gamma + 1)}
             ELSE 0.0 END + 1e-9, 4) AS estimate
         FROM pick ORDER BY $wsOrd"""
  }

  /** Shared winnowing CTE chain (q332/q333): char `k`-gram md5-prefix
    * hashes combined with their position into one BIGINT
    * `c = h·2¹⁷ + pos`, window-of-`w` integer minima, distinct
    * selections — replaying
    * [[graft.operators.Dedup.winnowFingerprints]] exactly. */
  private def winnowSelCtes(k: Int, w: Int, docFilter: String): String =
    s"""WITH d AS (SELECT doc_id, text FROM documents$docFilter
         ), g0 AS (
           SELECT doc_id, text, length(text) - $k + 1 AS grams,
             unnest(range(1, length(text) - $k + 2)) AS pos
           FROM d WHERE length(text) >= $k
         ), g AS (
           SELECT doc_id, pos, grams,
             CAST(('0x' || substring(md5(
               substring(text, CAST(pos AS INTEGER), $k)), 1, 11))
               AS BIGINT) * 131072 + pos AS c
           FROM g0
         ), wins AS (
           SELECT doc_id, pos, grams,
             min(c) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS cmin
           FROM g
         ), sel AS (
           SELECT DISTINCT doc_id, cmin FROM wins
           WHERE pos <= greatest(grams - $w + 1, 1)
         )"""

  /** q232's oracle, generated: `passes` unrolled Louvain local-move
    * passes over the q202 co-occurrence graph, replaying
    * [[graft.operators.Graph.louvainMove]] decision-for-decision: the
    * 2m²-scaled integer gain, the (gain DESC, community ASC) argmax,
    * and the md5-parity damping are all exact, so the labeling is
    * bit-identical across engines. */
  private def louvainOracleSql(
      passes: Int,
      prCtes: String =
        """WITH mm AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), pr AS MATERIALIZED (
           SELECT a.s AS x, b.s AS y FROM mm a JOIN mm b
             ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 150
         )"""
  ): String = {
    val sb = new StringBuilder
    sb.append(prCtes)
    sb.append(
      """, e AS MATERIALIZED (
           SELECT x AS src, y AS dst FROM pr
           UNION ALL SELECT y, x FROM pr
         ), em AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM pr
         ), deg AS MATERIALIZED (
           SELECT src AS node, CAST(count(*) AS BIGINT) AS k FROM e
           GROUP BY src
         ), lab0 AS (SELECT node, node AS c FROM deg)""")
    for (p <- 1 to passes) {
      val q = p - 1
      sb.append(s""", tot$q AS MATERIALIZED (
           SELECT l.c, CAST(sum(d.k) AS BIGINT) AS tot
           FROM lab$q l JOIN deg d ON d.node = l.node GROUP BY l.c
         ), lk$p AS MATERIALIZED (
           SELECT e.src AS node, l.c AS cn, CAST(count(*) AS BIGINT) AS e_ic
           FROM e JOIN lab$q l ON l.node = e.dst GROUP BY e.src, l.c
         ), cur$p AS (
           SELECT l.node, l.c, d.k, COALESCE(lk.e_ic, 0) AS e_own,
             t.tot AS tot_own
           FROM lab$q l
           JOIN deg d ON d.node = l.node
           LEFT JOIN lk$p lk ON lk.node = l.node AND lk.cn = l.c
           JOIN tot$q t ON t.c = l.c
         ), gn$p AS (
           SELECT g.node, g.cn,
             2 * (SELECT m FROM em) * (g.e_ic - c.e_own)
               - c.k * (tn.tot - c.tot_own + c.k) AS g
           FROM lk$p g
           JOIN cur$p c ON c.node = g.node
           JOIN tot$q tn ON tn.c = g.cn
           WHERE g.cn <> c.c
         ), mv$p AS (
           SELECT node, cn FROM (
             SELECT node, cn,
               row_number() OVER (PARTITION BY node ORDER BY g DESC, cn)
                 AS rn
             FROM gn$p
             WHERE g > 0 AND CAST(('0x' ||
               substring(md5(CAST(node AS VARCHAR)), 1, 1)) AS BIGINT) % 2
               = ${p % 2}
           ) WHERE rn = 1
         ), lab$p AS MATERIALIZED (
           SELECT l.node, COALESCE(m.cn, l.c) AS c
           FROM lab$q l LEFT JOIN mv$p m ON m.node = l.node
         )""")
    }
    sb.append(s"""
         SELECT node, c AS community FROM lab$passes ORDER BY node""")
    sb.toString
  }

  /** q318's oracle, generated: FULL Louvain unrolled over TWO coarsening
    * levels, replaying [[graft.operators.Graph.louvain]]
    * decision-for-decision — the weighted move passes of each level
    * (level 1 has unit weights and an empty self-loop table), the exact
    * modularity numerators `N = 4m·e_in − Σ d_c²`, the
    * strictly-increasing acceptance test, community contraction
    * (cross-weights summed, intra-weights + member self-loops into the
    * super-node self-loop), and the final accept-CASE over the composed
    * labelings. Every multi-referenced CTE is MATERIALIZED (the q234
    * lesson: DuckDB inlines by default and the pass chain re-expands
    * exponentially). */
  private def louvainFullOracleSql(
      passes: Int,
      prCtes: String =
        """WITH mm AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), pr AS MATERIALIZED (
           SELECT a.s AS x, b.s AS y FROM mm a JOIN mm b
             ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 150
         )"""
  ): String = {
    val sb = new StringBuilder
    sb.append(prCtes)
    sb.append(
      """, und1 AS MATERIALIZED (
           SELECT x AS a, y AS b, CAST(1 AS BIGINT) AS w FROM pr
         ), self1 AS MATERIALIZED (
           SELECT a AS node, CAST(0 AS BIGINT) AS sw FROM und1 WHERE FALSE
         ), em AS MATERIALIZED (
           SELECT CAST(sum(w) AS BIGINT) AS m FROM und1)""")

    // one weighted level: e/deg/lab0 + `passes` move blocks
    def levelCtes(l: Int): Unit = {
      sb.append(s""", e$l AS MATERIALIZED (
           SELECT a AS src, b AS dst, w FROM und$l
           UNION ALL SELECT b, a, w FROM und$l
         ), deg$l AS MATERIALIZED (
           SELECT COALESCE(x.node, s.node) AS node,
             COALESCE(x.kx, 0) + 2 * COALESCE(s.sw, 0) AS k
           FROM (SELECT src AS node, CAST(sum(w) AS BIGINT) AS kx
                 FROM e$l GROUP BY src) x
           FULL JOIN self$l s ON s.node = x.node
         ), lab${l}_0 AS (SELECT node, node AS c FROM deg$l)""")
      for (p <- 1 to passes) {
        val q = p - 1
        sb.append(s""", tot${l}_$q AS MATERIALIZED (
           SELECT l.c, CAST(sum(d.k) AS BIGINT) AS tot
           FROM lab${l}_$q l JOIN deg$l d ON d.node = l.node GROUP BY l.c
         ), lk${l}_$p AS MATERIALIZED (
           SELECT e.src AS node, l.c AS cn, CAST(sum(e.w) AS BIGINT) AS e_ic
           FROM e$l e JOIN lab${l}_$q l ON l.node = e.dst GROUP BY e.src, l.c
         ), cur${l}_$p AS (
           SELECT l.node, l.c, d.k, COALESCE(lk.e_ic, 0) AS e_own,
             t.tot AS tot_own
           FROM lab${l}_$q l
           JOIN deg$l d ON d.node = l.node
           LEFT JOIN lk${l}_$p lk ON lk.node = l.node AND lk.cn = l.c
           JOIN tot${l}_$q t ON t.c = l.c
         ), gn${l}_$p AS (
           SELECT g.node, g.cn,
             2 * (SELECT m FROM em) * (g.e_ic - c.e_own)
               - c.k * (tn.tot - c.tot_own + c.k) AS g
           FROM lk${l}_$p g
           JOIN cur${l}_$p c ON c.node = g.node
           JOIN tot${l}_$q tn ON tn.c = g.cn
           WHERE g.cn <> c.c
         ), mv${l}_$p AS (
           SELECT node, cn FROM (
             SELECT node, cn,
               row_number() OVER (PARTITION BY node ORDER BY g DESC, cn)
                 AS rn
             FROM gn${l}_$p
             WHERE g > 0 AND CAST(('0x' ||
               substring(md5(CAST(node AS VARCHAR)), 1, 1)) AS BIGINT) % 2
               = ${p % 2}
           ) WHERE rn = 1
         ), lab${l}_$p AS MATERIALIZED (
           SELECT l.node, COALESCE(m.cn, l.c) AS c
           FROM lab${l}_$q l LEFT JOIN mv${l}_$p m ON m.node = l.node
         )""")
      }
      // exact modularity numerator of the level's final labeling
      sb.append(s""", n$l AS MATERIALIZED (
           SELECT 4 * (SELECT m FROM em) * (
               COALESCE((SELECT CAST(sum(u.w) AS BIGINT) FROM und$l u
                 JOIN lab${l}_$passes la ON la.node = u.a
                 JOIN lab${l}_$passes lb ON lb.node = u.b
                 WHERE la.c = lb.c), 0)
               + COALESCE((SELECT CAST(sum(sw) AS BIGINT) FROM self$l), 0))
             - (SELECT CAST(COALESCE(sum(d * d), 0) AS BIGINT) FROM (
                 SELECT CAST(sum(dg.k) AS BIGINT) AS d FROM deg$l dg
                 JOIN lab${l}_$passes l ON l.node = dg.node GROUP BY l.c))
             AS n)""")
    }

    levelCtes(1)
    // singleton baseline numerator on the original graph
    sb.append(
      """, n0 AS MATERIALIZED (
           SELECT 4 * (SELECT m FROM em)
               * COALESCE((SELECT CAST(sum(sw) AS BIGINT) FROM self1), 0)
             - (SELECT CAST(COALESCE(sum(k * k), 0) AS BIGINT) FROM deg1)
             AS n)""")
    // contraction into level 2
    sb.append(s""", und2 AS MATERIALIZED (
           SELECT least(la.c, lb.c) AS a, greatest(la.c, lb.c) AS b,
             CAST(sum(u.w) AS BIGINT) AS w
           FROM und1 u
           JOIN lab1_$passes la ON la.node = u.a
           JOIN lab1_$passes lb ON lb.node = u.b
           WHERE la.c <> lb.c
           GROUP BY least(la.c, lb.c), greatest(la.c, lb.c)
         ), self2 AS MATERIALIZED (
           SELECT node, CAST(sum(sw) AS BIGINT) AS sw FROM (
             SELECT la.c AS node, CAST(u.w AS BIGINT) AS sw
             FROM und1 u
             JOIN lab1_$passes la ON la.node = u.a
             JOIN lab1_$passes lb ON lb.node = u.b
             WHERE la.c = lb.c
             UNION ALL
             SELECT l.c AS node, s.sw
             FROM self1 s JOIN lab1_$passes l ON l.node = s.node
           ) GROUP BY node)""")
    levelCtes(2)
    // composed labelings + the sequential acceptance CASE
    sb.append(s""", map1 AS MATERIALIZED (
           SELECT node, c AS community FROM lab1_$passes
         ), map2 AS MATERIALIZED (
           SELECT m1.node, COALESCE(l2.c, m1.community) AS community
           FROM map1 m1
           LEFT JOIN lab2_$passes l2 ON l2.node = m1.community)
         SELECT d.node AS node,
           CASE
             WHEN NOT ((SELECT n FROM n1) > (SELECT n FROM n0))
               THEN d.node
             WHEN NOT ((SELECT n FROM n2) > (SELECT n FROM n1))
               THEN m1.community
             ELSE m2.community
           END AS community
         FROM deg1 d
         JOIN map1 m1 ON m1.node = d.node
         JOIN map2 m2 ON m2.node = d.node
         ORDER BY node""")
    sb.toString
  }

  /** q242's oracle, generated: `rounds` unrolled label-propagation
    * rounds over the direct part↔supplier graph, replaying
    * [[graft.operators.Graph.labelPropagate]] vote-for-vote — exact
    * majority counts, (count DESC, label ASC) argmax, seeds never
    * overwritten. Rounds are idempotent past convergence. */
  /** q248's oracle, generated: the per-user channel paths (touches
    * strictly before the first conversion), the transition-probability
    * grid, the removal-replicated edge frame, and `iterations` unrolled
    * synchronous fixed-point steps of the absorption probability —
    * matching [[graft.operators.Behavior.markovAttribution]] step for
    * step. Every p-step CTE is MATERIALIZED: DuckDB inlines
    * multi-referenced CTEs, and inlining re-expands the join chain
    * exponentially across steps (the Louvain-oracle lesson). */
  private def markovOracleSql(iterations: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH base AS MATERIALIZED (
           SELECT user_id AS u, event_id AS id, event_type AS c,
             epoch_us(ts) AS us
           FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
         ), convs AS MATERIALIZED (
           SELECT u, us AS cus, id AS cid FROM (
             SELECT u, us, id,
               row_number() OVER (PARTITION BY u ORDER BY us, id) AS rn
             FROM base WHERE c = 'purchase')
           WHERE rn = 1
         ), touches AS MATERIALIZED (
           SELECT b.u, b.c, b.us, b.id, (cv.u IS NOT NULL) AS conv
           FROM base b LEFT JOIN convs cv ON cv.u = b.u
           WHERE b.c <> 'purchase'
             AND (cv.u IS NULL OR (b.us, b.id) < (cv.cus, cv.cid))
         ), sq AS MATERIALIZED (
           SELECT u, c, conv,
             row_number() OVER (PARTITION BY u ORDER BY us, id) AS rn,
             lead(c) OVER (PARTITION BY u ORDER BY us, id) AS nxt
           FROM touches
         ), edges AS MATERIALIZED (
           SELECT c AS f, COALESCE(nxt,
             CASE WHEN conv THEN '(conv)' ELSE '(null)' END) AS t
           FROM sq
           UNION ALL
           SELECT '(start)', c FROM sq WHERE rn = 1
           UNION ALL
           SELECT '(start)', '(conv)' FROM convs cv
           WHERE cv.u NOT IN (SELECT u FROM touches)
         ), probs AS MATERIALIZED (
           SELECT f, t,
             CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY f) AS p
           FROM (SELECT f, t, CAST(count(*) AS BIGINT) AS n
             FROM edges GROUP BY f, t)
         ), removals AS MATERIALIZED (
           SELECT DISTINCT c AS removed FROM touches
           UNION ALL SELECT '(none)'
         ), redges AS MATERIALIZED (
           SELECT r.removed, e.f,
             CASE WHEN e.t = r.removed THEN '(null)' ELSE e.t END AS t,
             e.p
           FROM removals r CROSS JOIN probs e
           WHERE e.f <> r.removed
         ), p0 AS MATERIALIZED (
           SELECT DISTINCT removed, f AS state, 0.0 AS p FROM redges
         )""")
    for (k <- 1 to iterations) {
      val q = k - 1
      sb.append(s""", p$k AS MATERIALIZED (
           SELECT e.removed, e.f AS state,
             sum(e.p * CASE WHEN e.t = '(conv)' THEN 1.0
               WHEN e.t = '(null)' THEN 0.0
               ELSE COALESCE(pk.p, 0.0) END) AS p
           FROM redges e LEFT JOIN p$q pk
             ON pk.removed = e.removed AND pk.state = e.t
           GROUP BY 1, 2
         )""")
    }
    sb.append(s""", eff AS (
           SELECT removed AS channel,
             (SELECT p FROM p$iterations
              WHERE removed = '(none)' AND state = '(start)') AS base_cvr,
             p AS removed_cvr,
             greatest(1.0 - p / (SELECT p FROM p$iterations
               WHERE removed = '(none)' AND state = '(start)'), 0.0) AS re
           FROM p$iterations
           WHERE removed <> '(none)' AND state = '(start)'
         )
         SELECT channel, round(base_cvr + 1e-9, 6) AS base_cvr,
           round(removed_cvr + 1e-9, 6) AS removed_cvr,
           round(re + 1e-9, 6) AS removal_effect,
           round(CASE WHEN (SELECT sum(re) FROM eff) > 0
             THEN re / (SELECT sum(re) FROM eff) END + 1e-9, 6)
             AS attribution
         FROM eff ORDER BY channel""")
    sb.toString
  }

  /** q251's oracle, generated: `rounds` unrolled synchronous min-plus
    * relaxations over the min-weight undirected part↔supplier edge
    * list — matching [[graft.operators.Graph.ssspWeighted]] round for
    * round (idempotent past convergence, so extra rounds are safe). */
  private def ssspOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH pe AS (
           SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
             CAST(min(l_quantity) AS DOUBLE) AS w
           FROM lineitem GROUP BY 1, 2
         ), e AS MATERIALIZED (
           SELECT src, dst, w FROM pe
           UNION ALL SELECT dst, src, w FROM pe
         ), d0 AS MATERIALIZED (
           SELECT s_suppkey * 2 + 1 AS node, 0.0 AS dist
           FROM supplier WHERE s_suppkey <= 5
         )""")
    for (k <- 1 to rounds) {
      val q = k - 1
      sb.append(s""", d$k AS MATERIALIZED (
           SELECT node, min(dist) AS dist FROM (
             SELECT node, dist FROM d$q
             UNION ALL
             SELECT e.dst AS node, d.dist + e.w AS dist
             FROM d$q d JOIN e ON e.src = d.node
           ) GROUP BY node
         )""")
    }
    sb.append(s"""
         SELECT node, dist FROM d$rounds ORDER BY node""")
    sb.toString
  }

  /** q254's oracle, generated: `depth` unrolled composite-key BFS
    * levels (frontier join + NOT-EXISTS visited check per level) over
    * the symmetrized part↔supplier graph, then the per-node Σ 1/d —
    * matching [[graft.operators.Graph.harmonicCloseness]] level for
    * level. */
  private def harmonicOracleSql(depth: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH pe AS (
           SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem
         ), e AS MATERIALIZED (
           SELECT src, dst FROM pe UNION ALL SELECT dst, src FROM pe
         ), vis0 AS MATERIALIZED (
           SELECT s_suppkey * 2 + 1 AS lm, s_suppkey * 2 + 1 AS node,
             0 AS depth
           FROM supplier WHERE s_suppkey <= 8
         )""")
    for (k <- 1 to depth) {
      val q = k - 1
      sb.append(s""", f$k AS MATERIALIZED (
           SELECT DISTINCT v.lm, e.dst AS node
           FROM vis$q v JOIN e ON e.src = v.node
           WHERE v.depth = $q AND NOT EXISTS (
             SELECT 1 FROM vis$q x WHERE x.lm = v.lm AND x.node = e.dst)
         ), vis$k AS MATERIALIZED (
           SELECT * FROM vis$q
           UNION ALL SELECT lm, node, $k FROM f$k
         )""")
    }
    sb.append(s"""
         SELECT node, CAST(count(*) AS BIGINT) AS n_landmarks,
           round(sum(1.0 / depth) + 1e-9, 6) AS harmonic
         FROM vis$depth WHERE depth > 0
         GROUP BY node ORDER BY node""")
    sb.toString
  }

  private def labelPropagationOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH und AS (
           SELECT DISTINCT least(l_partkey * 2, l_suppkey * 2 + 1) AS a,
             greatest(l_partkey * 2, l_suppkey * 2 + 1) AS b
           FROM lineitem
         ), e AS MATERIALIZED (
           SELECT a AS src, b AS dst FROM und
           UNION ALL SELECT b, a FROM und
         ), lab0 AS MATERIALIZED (
           SELECT s_suppkey * 2 + 1 AS node,
             CAST(s_nationkey % 3 AS VARCHAR) AS label,
             CAST(0 AS INTEGER) AS rounds
           FROM supplier WHERE s_suppkey <= 10
         )""")
    for (r <- 1 to rounds) {
      val q = r - 1
      sb.append(s""", v$r AS (
           SELECT e.src AS node, l.label, CAST(count(*) AS BIGINT) AS c
           FROM e JOIN lab$q l ON l.node = e.dst
           GROUP BY e.src, l.label
         ), n$r AS (
           SELECT node, label FROM (
             SELECT node, label,
               row_number() OVER (PARTITION BY node
                 ORDER BY c DESC, label) AS rn
             FROM v$r
             WHERE node NOT IN (SELECT node FROM lab$q)
           ) WHERE rn = 1
         ), lab$r AS MATERIALIZED (
           SELECT * FROM lab$q
           UNION ALL
           SELECT node, label, CAST($r AS INTEGER) FROM n$r
         )""")
    }
    sb.append(s"""
         SELECT node, label, rounds FROM lab$rounds ORDER BY node""")
    sb.toString
  }

  /** q203's oracle, generated: `iterations` unrolled HITS rounds (two
    * normalized half-steps each) over the directed part→supplier graph.
    * M = n·scale; every normalization is `(raw · M) // Σraw` on exact
    * BIGINTs, matching [[graft.operators.Graph.hits]] value-for-value. */
  private def hitsOracleSql(iterations: Int, scale: Long): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH e AS (
           SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem
         ), nd AS (
           SELECT src AS node FROM e UNION SELECT dst FROM e
         ), nn AS (
           SELECT CAST(count(*) AS BIGINT) * $scale AS m FROM nd
         ), h0 AS (SELECT node, CAST($scale AS BIGINT) AS h FROM nd)""")
    for (i <- 1 to iterations) {
      sb.append(s""", ar$i AS (
           SELECT e.dst AS node, SUM(h.h) AS raw FROM e
           JOIN h${i - 1} h ON h.node = e.src GROUP BY e.dst
         ), af$i AS (
           SELECT nd.node, COALESCE(ar$i.raw, 0) AS raw
           FROM nd LEFT JOIN ar$i ON ar$i.node = nd.node
         ), sa$i AS (SELECT SUM(raw) AS s FROM af$i
         ), a$i AS (
           SELECT node, (raw * (SELECT m FROM nn)) // (SELECT s FROM sa$i)
             AS a FROM af$i
         ), hr$i AS (
           SELECT e.src AS node, SUM(a.a) AS raw FROM e
           JOIN a$i a ON a.node = e.dst GROUP BY e.src
         ), hf$i AS (
           SELECT nd.node, COALESCE(hr$i.raw, 0) AS raw
           FROM nd LEFT JOIN hr$i ON hr$i.node = nd.node
         ), sh$i AS (SELECT SUM(raw) AS s FROM hf$i
         ), h$i AS (
           SELECT node, (raw * (SELECT m FROM nn)) // (SELECT s FROM sh$i)
             AS h FROM hf$i
         )""")
    }
    sb.append(
      s"""
         SELECT h$iterations.node, CAST(h$iterations.h AS BIGINT) AS hub,
           CAST(a$iterations.a AS BIGINT) AS authority,
           CAST(h$iterations.h AS DOUBLE) / CAST((SELECT m FROM nn) AS DOUBLE)
             AS hub_score,
           CAST(a$iterations.a AS DOUBLE) / CAST((SELECT m FROM nn) AS DOUBLE)
             AS auth_score
         FROM h$iterations JOIN a$iterations
           ON a$iterations.node = h$iterations.node
         ORDER BY h$iterations.node""")
    sb.toString
  }

  /** q31's langid replay, shared with the q312 confusion matrix. */
  private val langIdOracleSql: String =
    """WITH t AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
           FROM documents
         ), s AS (
           SELECT doc_id, text,
             len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','that','it','for'))) AS s_en,
             len(list_filter(toks, t -> t IN ('der','die','und','das','ist','nicht','ein','mit','zu','den'))) AS s_de,
             len(list_filter(toks, t -> t IN ('el','la','de','que','y','los','en','un','por','una'))) AS s_es,
             len(list_filter(toks, t -> t IN ('le','la','les','des','est','et','un','une','du','que'))) AS s_fr,
             len(list_filter(toks, t -> t IN ('il','di','che','la','per','un','con','del','una','non'))) AS s_it
           FROM t
         )
         SELECT doc_id,
           CASE
             WHEN regexp_matches(text, '\p{Han}') THEN 'zh'
             WHEN regexp_matches(text, '[\p{Hiragana}\p{Katakana}]') THEN 'ja'
             WHEN regexp_matches(text, '\p{Hangul}') THEN 'ko'
             WHEN regexp_matches(text, '\p{Cyrillic}') THEN 'ru'
             WHEN greatest(s_en,s_de,s_es,s_fr,s_it) > 0 AND s_en = greatest(s_en,s_de,s_es,s_fr,s_it) THEN 'en'
             WHEN greatest(s_en,s_de,s_es,s_fr,s_it) > 0 AND s_de = greatest(s_en,s_de,s_es,s_fr,s_it) THEN 'de'
             WHEN greatest(s_en,s_de,s_es,s_fr,s_it) > 0 AND s_es = greatest(s_en,s_de,s_es,s_fr,s_it) THEN 'es'
             WHEN greatest(s_en,s_de,s_es,s_fr,s_it) > 0 AND s_fr = greatest(s_en,s_de,s_es,s_fr,s_it) THEN 'fr'
             WHEN greatest(s_en,s_de,s_es,s_fr,s_it) > 0 AND s_it = greatest(s_en,s_de,s_es,s_fr,s_it) THEN 'it'
             ELSE 'und'
           END AS lang_pred
         FROM s ORDER BY doc_id"""

  def oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_group_map" ->
      """SELECT l_returnflag, min(l_quantity) AS "min(l_quantity)",
         max(l_extendedprice) AS "max(l_extendedprice)"
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q03_agg_on" ->
      "SELECT max(l_extendedprice) AS max_price FROM lineitem",
    "q04_agg_bykey" ->
      """SELECT l_returnflag, max(l_extendedprice) AS l_extendedprice
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q05_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         round(sum(l_quantity), 4) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag, l_linestatus""",
    "q06_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         round(sum(o_totalprice), 2) AS sum_price
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus, o_orderpriority""",
    "q07_select_rename" ->
      """SELECT p_partkey, p_name AS part_name, p_retailprice
         FROM part ORDER BY p_partkey""",
    "q08_filter_range" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
         WHERE o_totalprice BETWEEN 50000.0 AND 100000.0 AND o_orderstatus = 'O'
         ORDER BY o_orderkey""",
    "q09_addcol_na" ->
      """SELECT l_orderkey, l_linenumber,
         round(l_extendedprice * (1 - l_discount), 4) AS revenue
         FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
         ORDER BY l_orderkey, l_linenumber""",
    "q10_scalar_funcs" ->
      """SELECT p_partkey,
         CASE WHEN p_size >= 30 THEN 'large' WHEN p_size >= 15 THEN 'medium'
              ELSE 'small' END AS size_class,
         round(pow(p_retailprice, 2), 2) AS price_sq,
         round(ln(p_retailprice + 1), 6) AS log_price,
         abs(p_size - 25) AS size_dist,
         trim(p_brand) AS brand
         FROM part ORDER BY p_partkey""",
    "q11_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "q12_join_inner" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q13_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q14_join_outer" ->
      """SELECT n_name, count(s_suppkey) AS n_suppliers
         FROM nation FULL OUTER JOIN supplier ON n_nationkey = s_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q15_join_broadcast" ->
      """SELECT s_name, count(*) AS n_items,
         round(sum(l_extendedprice), 2) AS volume
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_name ORDER BY s_name""",
    "q16_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 150000)
         ORDER BY c_custkey""",
    "q17_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 150000)
         ORDER BY c_custkey""",
    "q18_join_theta" ->
      """SELECT c_custkey, s_suppkey
         FROM customer JOIN supplier
           ON c_nationkey = s_nationkey AND s_acctbal > c_acctbal
         WHERE c_custkey <= 20
         ORDER BY c_custkey, s_suppkey""",
    "q19_window_lag" ->
      """SELECT o_custkey, o_orderkey,
         round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
         CAST(row_number() OVER w AS INTEGER) AS rn
         FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q20_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
         round(sum(l_quantity) OVER (PARTITION BY l_suppkey
           ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_qty
         FROM lineitem
         ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty""",
    "q21_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 50""",
    "q22_union" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION ALL
         SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         ORDER BY c_custkey""",
    "q23_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT c_custkey FROM customer WHERE c_acctbal > 0
         ORDER BY c_custkey""",
    "q24_except" ->
      """SELECT c_custkey FROM customer
         EXCEPT
         SELECT c_custkey FROM customer WHERE c_acctbal < 0
         ORDER BY c_custkey""",
    "q25_csv_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q92_json_roundtrip" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
         CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation ORDER BY n_nationkey""",
    "q93_orc_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey FROM supplier ORDER BY s_suppkey",
    "q26_parquet_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
         ORDER BY n_nationkey""",
    "q27_optimise" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q28_measures" ->
      """SELECT
         round(sqrt(avg(pow(l_quantity * (1.0 + l_discount) - l_quantity, 2))), 4) AS rmse,
         round(avg(abs(l_quantity * (1.0 + l_discount) - l_quantity)), 4) AS mae,
         round(avg(abs(l_quantity * (1.0 + l_discount) - l_quantity) / l_quantity), 4) AS mpe,
         round(corr(l_quantity * (1.0 + l_discount), l_quantity), 4) AS pearson
         FROM lineitem""",
    "q29_text_tokens" ->
      """SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS INTEGER) AS n_tokens,
         list_sum(list_transform(
           list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''),
           x -> CAST(ceil(length(x) / 4.0) AS BIGINT)))::BIGINT AS n_subwords
         FROM documents ORDER BY doc_id""",
    "q30_text_quality" ->
      """WITH t AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks,
             length(text) AS len
           FROM documents
         ), m AS (
           SELECT doc_id, text, len, len(toks) AS ntok,
             CASE WHEN len = 0 THEN 0.0
                  ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / len END AS alpha,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) END AS mwl,
             CASE WHEN len = 0 THEN 0.0
                  ELSE length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) * 1.0 / len END AS punct
           FROM t
         )
         SELECT doc_id,
           round(alpha, 6) AS alpha_ratio,
           round(mwl, 6) AS mean_word_len,
           round(least(ntok / 50.0, 1.0) * 0.3 + alpha * 0.3 +
                 (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.0 END) * 0.2 +
                 (1.0 - least(punct * 4.0, 1.0)) * 0.2, 6) AS quality
         FROM m ORDER BY doc_id""",
    "q31_text_langid" -> langIdOracleSql,

    // q312: the q31 langid replay joined to the lang ground truth —
    // cell counts exact, shares one division of exact longs.
    "q312_confusion" ->
      ("WITH p AS (" + langIdOracleSql + """)
         , j AS (
           SELECT COALESCE(CAST(d.lang AS VARCHAR), '<null>') AS truth,
             COALESCE(CAST(p.lang_pred AS VARCHAR), '<null>') AS pred
           FROM documents d JOIN p ON p.doc_id = d.doc_id
         ), cells AS (
           SELECT truth, pred, CAST(count(*) AS BIGINT) AS n
           FROM j GROUP BY truth, pred
         )
         SELECT truth, pred, n,
           CAST(sum(n) OVER (PARTITION BY truth) AS BIGINT) AS truth_total,
           CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY truth) AS BIGINT) AS share
         FROM cells ORDER BY truth, pred"""),


    "q32_text_fingerprint" ->
      """SELECT count(DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS n_distinct_text,
         count(DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS n_distinct_fp,
         count(DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS n_distinct_rfp
         FROM documents""",
    "q33_dedup_exact" ->
      """SELECT doc_id, lang, n_chars FROM (
           SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1 ORDER BY doc_id""",
    // q34/q36: the LSH banding stage (16 bands × 4 rows) has recall
    // 1-(1-s^4)^16 — ~64% at s=0.5 in general, but every true pair in the
    // synthetic corpus sits at Jaccard ≥ 0.9 where recall is 1-4e-8, so
    // the exact-Jaccard oracle below enumerates precisely the pairs the
    // banded pipeline verifies (empirically confirmed at sf0.001/sf0.01).
    // Shingle HASH Jaccard == shingle STRING Jaccard absent 64-bit
    // collisions. q35/q37/q39 stay rows-only: simhash banding and
    // hyperplane-LSH retrieval are genuinely approximate on this data.
    "q34_dedup_minhash" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents
         ), sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(ts)-1),
               i -> ts[i] || chr(1) || ts[i+1] || chr(1) || ts[i+2])) AS shingles
           FROM toks WHERE len(ts) >= 3
         ), pairs AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         )
         SELECT idA, idB, round(j, 6) AS jaccard FROM pairs
         WHERE j >= 0.5 ORDER BY idA, idB""",
    // q35: the gate query uses the PORTABLE simhash kernel (md5 token
    // hash), so DuckDB recomputes the identical 60-bit fingerprints and
    // the pigeonhole banding guarantees recall — expected == ALL pairs at
    // hamming <= 12, value-exact.
    "q35_dedup_simhash" ->
      """WITH toks AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                                t -> t <> '')) AS t
           FROM documents
         ), hashed AS (
           SELECT doc_id,
             CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS h
           FROM toks
         ), bits AS (
           SELECT doc_id, bb.b AS b,
             sum(CASE WHEN ((h >> bb.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
           FROM hashed, (SELECT unnest(range(0, 60)) AS b) bb
           GROUP BY doc_id, bb.b
         ), sh AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                  AS BIGINT) AS sh
           FROM bits GROUP BY doc_id
         )
         SELECT a.doc_id AS idA, b.doc_id AS idB,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 12
         ORDER BY idA, idB""",
    "q36_dedup_ngram" ->
      """WITH norm AS (
           SELECT doc_id,
             trim(regexp_replace(lower(text), '[ \t\n\r\f]+', ' ', 'g')) AS nt
           FROM documents
         ), sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(nt)-3),
               i -> substring(nt, i, 5))) AS shingles
           FROM norm WHERE len(nt) >= 5
         ), pairs AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         )
         SELECT idA, idB, round(j, 6) AS jaccard FROM pairs
         WHERE j >= 0.5 ORDER BY idA, idB""",
    // q38: exact brute-force top-k — directly SQL-expressible (cosine in
    // double on both sides; rank ties broken by neighborId on both sides).
    // q40: IVF with nProbe = nCentroids probes every cell, so retrieval is
    // exhaustive and the result equals exact top-k by construction.
    "q38_knn_brute" -> knnExactOracle,
    // q37/q39: the gate queries use the PORTABLE md5-sign hyperplane
    // signature, so the candidate contract (sig hamming / band agreement)
    // is recomputed exactly here — value-exact oracles for LSH retrieval.
    "q37_dedup_embedding" -> (portableSigCtes +
      """, cand AS (
           SELECT DISTINCT a.vec_id AS idA, b.vec_id AS idB
           FROM sh a, sh b, (SELECT unnest(range(0, 6)) AS b) bb
           WHERE a.vec_id < b.vec_id
             AND ((a.sh >> (bb.b * 10)) & 1023) = ((b.sh >> (bb.b * 10)) & 1023)
         ), cos AS (
           SELECT p.idA, p.idB,
             list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                    CAST(eb.embedding AS DOUBLE[])) AS c
           FROM cand p
           JOIN embeddings ea ON ea.vec_id = p.idA
           JOIN embeddings eb ON eb.vec_id = p.idB
         )
         SELECT idA, idB, round(c, 6) AS cosine FROM cos
         WHERE c >= 0.25 ORDER BY idA, idB"""),
    "q39_knn_lsh" -> (portableSigCtes +
      """, cand AS (
           SELECT DISTINCT q.vec_id AS queryId, c.vec_id AS neighborId
           FROM sh q, sh c, (SELECT unnest(range(0, 15)) AS b) bb
           WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
             AND ((q.sh >> (bb.b * 4)) & 15) = ((c.sh >> (bb.b * 4)) & 15)
         ), scored AS (
           SELECT cand.queryId, cand.neighborId,
             list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
                                    CAST(ec.embedding AS DOUBLE[])) AS c_raw
           FROM cand
           JOIN embeddings eq ON eq.vec_id = cand.queryId
           JOIN embeddings ec ON ec.vec_id = cand.neighborId
         ), ranked AS (
           SELECT queryId, neighborId, c_raw,
             row_number() OVER (PARTITION BY queryId
                                ORDER BY c_raw DESC, neighborId) AS rank
           FROM scored
         )
         SELECT queryId, neighborId, round(c_raw, 6) AS cosine,
           CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5 ORDER BY queryId, rank"""),
    "q40_knn_ivf" -> knnExactOracle,
    "q41_vec_stats" ->
      """SELECT label, count(*) AS n,
         round(avg(sqrt(list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS avg_norm
         FROM embeddings GROUP BY label ORDER BY label""",
    "q42_event_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
         count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY ws, event_type ORDER BY ws, event_type""",
    "q43_stream_file" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q54_tpch3" ->
      """SELECT l_orderkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < '1997-06-01' AND l_shipdate > '1997-06-01'
         GROUP BY l_orderkey
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q55_tpch5" ->
      """SELECT n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name ORDER BY n_name""",
    "q56_salted_join" ->
      """SELECT 'tag_' || l_returnflag AS flag_tag, count(*) AS n,
         round(sum(l_quantity), 4) AS sum_qty
         FROM lineitem GROUP BY flag_tag ORDER BY flag_tag""",
    "q57_percentiles" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
         round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
         round(quantile_cont(l_quantity, 0.25), 4) AS q1,
         round(quantile_cont(l_quantity, 0.75), 4) AS q3
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q52_asof_join" ->
      """SELECT l.event_id, l.user_id, l.ts, r.purchase_ts, r.purchase_value
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN (SELECT user_id, ts AS purchase_ts,
                round(value, 4) AS purchase_value
              FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND l.ts >= r.purchase_ts
         ORDER BY l.event_id""",
    "q53_date_funcs" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS INTEGER) AS yr,
         CAST(month(o_orderdate) AS INTEGER) AS mo,
         CAST(day(o_orderdate) AS INTEGER) AS dom,
         CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
         CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INTEGER) AS days_to_eoy
         FROM orders ORDER BY o_orderkey""",
    "q51_stream_window" ->
      """SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type,
         count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY ws, event_type ORDER BY ws, event_type""",
    "q91_stream_sliding" ->
      """WITH s AS (
           SELECT time_bucket(INTERVAL '30 minutes', ts) AS w1, event_type, value
           FROM events
         ), ex AS (
           SELECT w1 AS ws, event_type, value FROM s
           UNION ALL
           SELECT w1 - INTERVAL '30 minutes' AS ws, event_type, value FROM s
         )
         SELECT ws, event_type, count(*) AS n, round(sum(value), 4) AS sum_value
         FROM ex GROUP BY ws, event_type ORDER BY ws, event_type""",
    "q44_string_encoder" ->
      """SELECT count(DISTINCT t) AS vocab_size FROM
         (SELECT unnest(string_split_regex(text, '\s+')) AS t FROM documents)""",
    "q45_scaler" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
         round(l_quantity / (SELECT sum(l_quantity) FROM lineitem) * 1e6, 6) AS qty_scaled_ppm
         FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity""",
    "q46_standard_scaler" ->
      """SELECT o_orderkey,
         round((o_totalprice - (SELECT avg(o_totalprice) FROM orders))
           / (SELECT stddev_pop(o_totalprice) FROM orders), 6) AS z
         FROM orders ORDER BY o_orderkey""",
    "q47_linreg" ->
      """WITH c AS (SELECT regr_slope(l_extendedprice, l_quantity) AS b,
                           regr_intercept(l_extendedprice, l_quantity) AS a
                    FROM lineitem)
         SELECT round(sqrt(avg(pow(l_extendedprice - (a + b * l_quantity), 2))), 2) AS rmse
         FROM lineitem, c""",
    "q48_kmeans" ->
      """WITH dims AS (
           SELECT dd.i AS i,
             var_pop(CAST(embedding[dd.i + 1] AS DOUBLE)) * count(*) AS sc
           FROM embeddings, (SELECT unnest(range(0, 64)) AS i) dd
           GROUP BY dd.i
         )
         SELECT (SELECT count(*) FROM embeddings) AS n_points,
           true AS sse_nonneg, true AS sse_below_total, true AS n_clusters_ok,
           round(sum(sc), 4) AS total_scatter
         FROM dims""",
    "q49_crossval" -> "SELECT CAST(2.0 AS DOUBLE) AS mae_cv",
    "q50_multimodal" ->
      """SELECT doc_id,
         CAST(greatest(1, floor(sqrt(strlen(text)))) AS INTEGER) AS width,
         CAST(greatest(1, ceil(strlen(text) / greatest(1, floor(sqrt(strlen(text)))))) AS INTEGER) AS height,
         CAST(3 AS INTEGER) AS channels,
         CAST(least(CAST(ceil(greatest(1, floor(sqrt(strlen(text)))) *
           least(64.0 / greatest(1, floor(sqrt(strlen(text)))),
                 64.0 / greatest(1, ceil(strlen(text) / greatest(1, floor(sqrt(strlen(text)))))),
                 1.0)) AS INTEGER), 64) AS INTEGER) AS rwidth,
         CAST(least(CAST(ceil(greatest(1, ceil(strlen(text) / greatest(1, floor(sqrt(strlen(text)))))) *
           least(64.0 / greatest(1, floor(sqrt(strlen(text)))),
                 64.0 / greatest(1, ceil(strlen(text) / greatest(1, floor(sqrt(strlen(text)))))),
                 1.0)) AS INTEGER), 64) AS INTEGER) AS rheight
         FROM documents ORDER BY doc_id""",
    "q67_zorder" ->
      """SELECT l_returnflag, count(*) AS n,
         round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q68_fuzzy_join" ->
      """WITH t AS (
           SELECT doc_id, lang,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
           FROM documents
         ), sh AS (
           SELECT doc_id, lang,
             list_sort(list_distinct(list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i + 1]))) AS sset
           FROM t WHERE len(toks) >= 2
         ), g AS (
           SELECT sset, count(*) AS gs FROM sh GROUP BY sset
         )
         SELECT lang, CAST(sum(gs) AS BIGINT) AS n_matches
         FROM sh JOIN g USING (sset) GROUP BY lang ORDER BY lang""",
    "q66_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, value, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), sess AS (
           SELECT user_id, value, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged
         ), agg AS (
           SELECT user_id, sid, count(*) AS n,
             round(sum(value), 4) AS sum_value,
             epoch_ms(min(ts)) AS firstMs, epoch_ms(max(ts)) AS lastMs
           FROM sess GROUP BY user_id, sid
         )
         SELECT user_id, n, sum_value, firstMs, lastMs FROM (
           SELECT *, max(sid) OVER (PARTITION BY user_id) AS max_sid FROM agg)
         WHERE sid < max_sid
            OR lastMs + 1800000 < (SELECT epoch_ms(max(ts)) FROM events)
         ORDER BY user_id, firstMs""",
    // q65: at threshold 1.0 the connected components are exactly the
    // shingle-SET equality classes (equality is transitive), and the
    // planted +1M copies never win the min-id — so the expectation is
    // one representative per class of the BASE corpus. Grouping classes
    // (not raw docs) matters: the sf0.1 corpus contains a handful of
    // NATURAL duplicate texts (4992 classes / 5000 docs) that the
    // engine correctly merges — the old per-doc oracle assumed a
    // duplicate-free corpus and broke at 10× the gate scale.
    "q65_dedup_transitive" ->
      """WITH toks AS (
           SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents
         ), sh AS (
           SELECT doc_id, lang,
             CASE WHEN len(ts) >= 3 THEN
               list_sort(list_distinct(list_transform(range(1, len(ts)-1),
                 i -> ts[i] || chr(1) || ts[i+1] || chr(1) || ts[i+2])))::VARCHAR
             ELSE 'short:' || doc_id END AS key
           FROM toks
         ), kept AS (
           SELECT min(doc_id) AS doc_id FROM sh GROUP BY key
         )
         SELECT s.lang, CAST(count(*) AS BIGINT) AS n_docs,
           min(s.doc_id) AS min_id
         FROM kept k JOIN sh s ON k.doc_id = s.doc_id
         GROUP BY s.lang ORDER BY lang""",
    "q64_sampling" ->
      """WITH t AS (
           SELECT lang, doc_id, n_chars,
             CAST(('0x' || substring(md5('r4§' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS hk
           FROM documents
         ), r AS (
           SELECT lang, doc_id, n_chars,
             sum(greatest(coalesce(n_chars, 0), 0))
               OVER (PARTITION BY lang ORDER BY hk, doc_id
                     ROWS UNBOUNDED PRECEDING) AS run
           FROM t
         )
         SELECT lang, doc_id, n_chars FROM r
         WHERE run - greatest(coalesce(n_chars, 0), 0) < 10000
         ORDER BY lang, doc_id""",
    "q62_tpch6" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
         count(*) AS n
         FROM lineitem
         WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
           AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""",
    "q63_tpch4" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'
           AND EXISTS (SELECT 1 FROM lineitem
             WHERE l_orderkey = o_orderkey AND l_shipdate > '1997-06-01')
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q60_pivot" ->
      """SELECT l_returnflag,
         round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 4) AS "F",
         round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 4) AS "O"
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q61_unpivot" ->
      """SELECT s_suppkey, metric, round(val, 4) AS val FROM (
           SELECT s_suppkey, 's_acctbal' AS metric, s_acctbal AS val FROM supplier
           UNION ALL
           SELECT s_suppkey, 's_nationkey' AS metric, CAST(s_nationkey AS DOUBLE) AS val FROM supplier)
         ORDER BY s_suppkey, metric""",
    "q59_range_join" ->
      """WITH bands AS (
           SELECT CAST(k AS INTEGER) AS band_id, k * 5000.0 AS lo, (k + 1) * 5000.0 AS hi
           FROM range(20) t(k))
         SELECT band_id, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
         FROM lineitem JOIN bands
           ON l_extendedprice >= lo AND l_extendedprice < hi
         GROUP BY band_id ORDER BY band_id""",
    "q58_multimodal_features" ->
      """WITH c AS (
           SELECT doc_id,
             unnest(list_transform(range(1, strlen(text) + 1),
               i -> ord(substr(text, i, 1)) // 16)) AS b
           FROM documents
         ), g AS (
           SELECT doc_id, b, count(*) AS n FROM c GROUP BY doc_id, b
         ), g2 AS (
           SELECT doc_id, b, n, max(n) OVER (PARTITION BY doc_id) AS mx FROM g
         )
         SELECT doc_id, count(*) AS nbuckets,
           CAST(min(CASE WHEN n = mx THEN b END) AS BIGINT) AS top_bucket
         FROM g2 GROUP BY doc_id ORDER BY doc_id""",
    // q69: Bloom pruning + exact semi-join scrub == plain EXISTS.
    "q69_bloom_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 200000)
         ORDER BY c_custkey""",
    // q70: CMS-shortlisted heavy hitters == exact top-10 (ties by key).
    "q70_cms_topk" ->
      """SELECT l_partkey, count(*) AS n FROM lineitem
         GROUP BY l_partkey ORDER BY n DESC, l_partkey LIMIT 10""",
    // q71: single-batch stream-stream interval join == batch interval join.
    "q71_stream_join" ->
      """SELECT v.user_id, count(*) AS n_matches,
         round(sum(p.value), 4) AS sum_purchase
         FROM events v JOIN events p
           ON v.user_id = p.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '10 minutes'
         GROUP BY v.user_id ORDER BY v.user_id""",
    // q72: single-batch streaming dedup == DISTINCT on the key columns.
    "q72_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    "q73_upsert" ->
      """WITH cust AS (
           SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
         ), upd AS (
           SELECT c_custkey, c_name, c_mktsegment,
                  round(c_acctbal * 2, 2) AS c_acctbal
           FROM cust WHERE c_mktsegment = 'BUILDING'
           UNION ALL
           SELECT -c_custkey, c_name, c_mktsegment, c_acctbal
           FROM cust WHERE c_custkey <= 50
         )
         SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2) AS c_acctbal
         FROM (SELECT * FROM upd
               UNION ALL
               SELECT * FROM cust
               WHERE c_custkey NOT IN (SELECT c_custkey FROM upd))
         ORDER BY c_custkey""",
    "q74_scd2" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
         o_orderkey AS valid_from,
         lead(o_orderkey) OVER w AS valid_to,
         (lead(o_orderkey) OVER w IS NULL) AS is_current
         FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
         ORDER BY o_custkey, valid_from""",
    "q75_latest" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderkey DESC) AS rn
           FROM orders) WHERE rn = 1
         ORDER BY o_custkey""",
    "q76_tfidf" ->
      """WITH toks AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                    t -> t <> '')) AS term
           FROM documents
         ), tf AS (
           SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM toks GROUP BY doc_id, term
         ), dfreq AS (
           SELECT term, CAST(count(*) AS DOUBLE) AS dfn FROM tf GROUP BY term
         ), n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
         w AS (
           SELECT doc_id, term, tf * (ln((nd + 1) / (dfn + 1)) + 1) AS w
           FROM tf JOIN dfreq USING (term), n
         ), nrm AS (
           SELECT doc_id, sqrt(sum(w * w)) AS nm FROM w GROUP BY doc_id
         ), dots AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB, sum(a.w * b.w) AS dot
           FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id
         )
         SELECT idA, idB, round(dot / (na.nm * nb.nm), 6) AS cosine
         FROM dots JOIN nrm na ON na.doc_id = idA
                   JOIN nrm nb ON nb.doc_id = idB
         WHERE dot / (na.nm * nb.nm) >= 0.95
         ORDER BY idA, idB""",
    "q77_profile" ->
      """SELECT 'o_custkey' AS "column", count(*) AS n,
             count(*) - count(o_custkey) AS n_null,
             count(DISTINCT o_custkey) AS n_distinct,
             CAST(min(o_custkey) AS VARCHAR) AS min_str,
             CAST(max(o_custkey) AS VARCHAR) AS max_str FROM orders
         UNION ALL
         SELECT 'o_orderkey', count(*), count(*) - count(o_orderkey),
             count(DISTINCT o_orderkey),
             CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR)
         FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
             count(DISTINCT o_orderstatus),
             CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
         FROM orders
         UNION ALL
         SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
             count(DISTINCT o_totalprice),
             CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
         FROM orders
         ORDER BY "column"""",
    "q78_expect" ->
      """SELECT rule, n_violations, n_violations = 0 AS pass FROM (
           SELECT 'discount_max' AS rule,
             count(*) FILTER (WHERE NOT coalesce(l_discount <= 0.08, false)) AS n_violations
           FROM lineitem
           UNION ALL
           SELECT 'flag_known',
             count(*) FILTER (WHERE NOT coalesce(l_returnflag IN ('A','N','R'), false))
           FROM lineitem
           UNION ALL
           SELECT 'price_positive',
             count(*) FILTER (WHERE NOT coalesce(l_extendedprice > 0, false))
           FROM lineitem
           UNION ALL
           SELECT 'qty_in_range',
             count(*) FILTER (WHERE NOT coalesce(l_quantity BETWEEN 1 AND 50, false))
           FROM lineitem)
         ORDER BY rule""",
    "q79_redact" ->
      """WITH aug AS (
           SELECT doc_id,
             text || ' reach me at user' || doc_id || '@example.com or +1 555-000-'
                  || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS a
           FROM documents
         )
         SELECT doc_id,
           len(regexp_extract_all(a, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(
                 regexp_replace(a, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ';', 'g'),
                 '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS n_pii,
           regexp_replace(
             regexp_replace(a, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
             '\+?[0-9][0-9()\- ]{6,}[0-9]', '[PII]', 'g') AS redacted
         FROM aug ORDER BY doc_id""",
    "q80_shard" ->
      """WITH sharded AS (
           SELECT lang, n_chars,
             CAST(floor((sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_chars) / 50000) AS BIGINT) AS shard_id
           FROM documents
         )
         SELECT lang, shard_id, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         FROM sharded GROUP BY lang, shard_id ORDER BY lang, shard_id""",
    "q81_hll" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
         true AS within_5pct
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q82_json" ->
      """SELECT event_type,
         count(CAST(json_extract(props, '$.k') AS INTEGER)) AS n_parsed,
         CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
         min(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
         max(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q83_split" ->
      """SELECT count(*) AS n_docs, CAST(3 AS BIGINT) AS n_labels,
         true AS train_share_ok FROM documents""",
    "q84_repetition" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents
         )
         SELECT doc_id,
           CASE WHEN len(ts) = 0 THEN 0.0
                ELSE round(1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts), 6)
           END AS dup_word_frac,
           CASE WHEN len(ts) < 3 THEN 0.0
                ELSE round(1.0 - CAST(len(list_distinct(list_transform(
                       range(1, len(ts) - 1),
                       i -> array_to_string(ts[i:i+2], chr(1))))) AS DOUBLE)
                     / (len(ts) - 2), 6)
           END AS dup_3gram_frac
         FROM toks ORDER BY doc_id""",
    "q85_contamination" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents
         ), sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(ts) - 6),
               i -> array_to_string(ts[i:i+7], chr(1)))) AS shingles
           FROM toks WHERE len(ts) >= 8
         ), bench AS (
           SELECT DISTINCT unnest(shingles) AS g FROM sh WHERE doc_id < 20
         ), corp AS (
           SELECT doc_id, unnest(shingles) AS g FROM sh WHERE doc_id >= 20
         )
         SELECT doc_id, count(*) AS n_overlaps
         FROM corp JOIN bench USING (g)
         GROUP BY doc_id ORDER BY doc_id""",
    "q86_tpch10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q87_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
         round(lead(o_totalprice, 1) OVER wk, 2) AS next_price,
         CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice)
           AS INTEGER) AS price_rank,
         round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
           ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 4) AS avg3
         FROM orders WINDOW wk AS (PARTITION BY o_custkey ORDER BY o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q88_interval_overlap" ->
      """SELECT o.o_orderkey AS lkey, c.c_custkey AS rkey
         FROM orders o JOIN customer c
           ON CAST(o.o_custkey AS DOUBLE) < c.c_custkey + 5
          AND CAST(c.c_custkey - 5 AS DOUBLE) < o.o_custkey + 10
         WHERE o.o_orderkey < 200 AND c.c_custkey < 300
         ORDER BY lkey, rkey""",
    "q89_quality_violations" ->
      """WITH f AS (
           SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
             list_filter([
               CASE WHEN NOT coalesce(l_discount <= 0.08, false)
                    THEN 'discount_max' END,
               CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 45, false)
                    THEN 'qty_in_range' END
             ], x -> x IS NOT NULL) AS fr
           FROM lineitem WHERE l_orderkey < 2000
         )
         SELECT l_orderkey, l_linenumber, round(l_quantity, 4) AS l_quantity,
           round(l_discount, 4) AS l_discount,
           array_to_string(fr, ',') AS failed
         FROM f WHERE len(fr) > 0
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, failed""",
    "q90_url_domains" ->
      """WITH aug AS (
           SELECT doc_id,
             text || ' via https://src' || (doc_id % 7) || '.example.org/doc/'
                  || doc_id || ' and http://mirror' || (doc_id % 3)
                  || '.example.net/raw?' AS a
           FROM documents
         ), u AS (
           SELECT doc_id,
             lower(regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1)) AS domain
           FROM (SELECT doc_id,
                   unnest(regexp_extract_all(a,
                     'https?://[A-Za-z0-9.-]+[A-Za-z0-9./_%-]*')) AS url
                 FROM aug)
         )
         SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
         FROM u GROUP BY domain ORDER BY domain""",

    "q94_paragraph_dedup" ->
      """WITH aug AS (
           SELECT doc_id,
             'head ' || (doc_id % 3) || chr(10) || chr(10)
               || substr(text, 1, 90) || chr(10) || chr(10)
               || 'footer ' || (doc_id % 7) AS text
           FROM documents
         ), t AS (
           SELECT doc_id, string_split_regex(text, '\n{2,}') AS l FROM aug
         ), segs AS (
           SELECT doc_id, pos, seg FROM (
             SELECT doc_id,
               unnest(range(1, len(l) + 1)) AS pos,
               trim(unnest(l)) AS seg
             FROM t)
           WHERE seg <> ''
         ), marked AS (
           SELECT doc_id, pos, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
           FROM segs
         )
         SELECT doc_id,
           coalesce(string_agg(CASE WHEN rn = 1 THEN seg END,
             chr(10) || chr(10) ORDER BY pos), '') AS text_dedup,
           count(*) AS n_segments,
           CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept
         FROM marked GROUP BY doc_id ORDER BY doc_id""",

    "q95_boilerplate" ->
      """WITH aug AS (
           SELECT doc_id,
             substr(text, 1, 60) || chr(10) || 'accept cookies to continue'
               || chr(10) || substr(text, 61, 60) || chr(10)
               || 'nav menu ' || (doc_id % 5) AS text
           FROM documents
         ), t AS (
           SELECT doc_id, string_split_regex(text, '\n') AS l FROM aug
         ), segs AS (
           SELECT doc_id, pos, seg FROM (
             SELECT doc_id,
               unnest(range(1, len(l) + 1)) AS pos,
               trim(unnest(l)) AS seg
             FROM t)
           WHERE seg <> ''
         ), bp AS (
           SELECT lower(trim(regexp_replace(seg, '\s+', ' ', 'g'))) AS nseg
           FROM segs
           GROUP BY 1 HAVING count(DISTINCT doc_id) >= 50
         ), flagged AS (
           SELECT s.doc_id, s.pos, s.seg,
             (b.nseg IS NULL) AS keep
           FROM segs s LEFT JOIN bp b
             ON lower(trim(regexp_replace(s.seg, '\s+', ' ', 'g'))) = b.nseg
         )
         SELECT doc_id,
           coalesce(string_agg(CASE WHEN keep THEN seg END,
             chr(10) ORDER BY pos), '') AS text_clean,
           count(*) AS n_segments,
           CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_kept,
           CAST(count(*) - count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_removed
         FROM flagged GROUP BY doc_id ORDER BY doc_id""",

    "q96_lm_score" ->
      """WITH toks AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '')) AS tok
           FROM documents
         ), uni AS (
           SELECT tok, count(*) AS c1 FROM toks GROUP BY tok
         ), stats AS (
           SELECT CAST(sum(c1) AS BIGINT) AS N, count(*) AS V FROM uni
         ), uscore AS (
           SELECT t.doc_id, count(*) AS n_tokens,
             avg(ln((u.c1 + 1.0) / (s.N + 1.0 * s.V))) AS alp
           FROM toks t JOIN uni u USING (tok), stats s
           GROUP BY t.doc_id
         ), tl AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS l
           FROM documents
         ), bg AS (
           SELECT doc_id,
             unnest(l[1:len(l) - 1]) AS w1,
             unnest(l[2:len(l)]) AS w2
           FROM tl WHERE len(l) >= 2
         ), bic AS (
           SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
         ), bscore AS (
           SELECT g.doc_id,
             avg(ln((b.c2 + 1.0) / (u.c1 + 1.0 * s.V))) AS blp
           FROM bg g JOIN bic b USING (w1, w2)
             JOIN uni u ON u.tok = g.w1, stats s
           GROUP BY g.doc_id
         )
         SELECT u.doc_id, u.n_tokens,
           round(u.alp, 6) AS avg_lp_uni,
           round(exp(-u.alp), 4) AS ppl_uni,
           round(b.blp, 6) AS avg_lp_bi
         FROM uscore u LEFT JOIN bscore b ON b.doc_id = u.doc_id
         ORDER BY u.doc_id""",

    "q97_sq_encode" ->
      """WITH enc AS (
           SELECT vec_id, embedding,
             CAST(list_min(embedding) AS DOUBLE) AS vmin,
             CAST(list_max(embedding) AS DOUBLE) AS vmax,
             (CAST(list_max(embedding) AS DOUBLE)
              - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS sc
           FROM embeddings
         ), codes AS (
           SELECT vec_id, embedding, vmin, vmax, sc,
             list_transform(range(1, 65), i ->
               CASE WHEN sc = 0 THEN 0.0 ELSE
                 least(255.0, greatest(0.0,
                   floor((CAST(embedding[i] AS DOUBLE) - vmin) / sc + 0.5)))
               END) AS cl
           FROM enc
         )
         SELECT vec_id,
           CAST(list_sum(cl) AS BIGINT) AS code_sum,
           round(vmin, 6) AS vmin_r,
           round(vmax, 6) AS vmax_r,
           round(list_max(list_transform(range(1, 65), i ->
             abs(CAST(embedding[i] AS DOUBLE) - (vmin + cl[i] * sc)))), 7) AS max_err
         FROM codes ORDER BY vec_id""",

    "q98_sq_knn" -> knnExactOracle,
    "q129_bin_knn" -> knnExactOracle,

    // q132: exact replay of the stratified hash draw.
    "q132_sample_fractions_hash" ->
      """SELECT lang, doc_id, n_chars
         FROM documents
         WHERE (CAST(('0x' || substring(md5('r4§' || CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 1000000)
               < (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                            WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.0
                            ELSE 0.0 END) * 1000000.0
         ORDER BY lang, doc_id""",

    // q139: same corruption construction, same RE2-safe patterns — both
    // engines count code-point for code-point.
    "q139_encoding_anomalies" ->
      """WITH m AS (
           SELECT doc_id,
             text ||
             CASE WHEN doc_id % 3 = 0 THEN ' cafÃ© â€™quoteâ€™ Â°C' ELSE '' END ||
             CASE WHEN doc_id % 5 = 0 THEN ' bad�byte�' ELSE '' END ||
             CASE WHEN doc_id % 7 = 0 THEN ' c' || chr(1) || 'tl' ELSE '' END AS t
           FROM documents
         )
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '�')) AS BIGINT) AS n_replacement,
           CAST(len(regexp_extract_all(t, 'Ã[©¨¤¶¼±§³ª]|â€[™œ“”–—]|Â[°»«·]')) AS BIGINT)
             AS n_mojibake,
           CAST(len(regexp_extract_all(t, '[\x00-\x08\x0B\x0E-\x1F\x{007F}-\x{009F}]')) AS BIGINT)
             AS n_control,
           (len(regexp_extract_all(t, '�')) > 0
             OR len(regexp_extract_all(t, 'Ã[©¨¤¶¼±§³ª]|â€[™œ“”–—]|Â[°»«·]')) > 0
             OR len(regexp_extract_all(t, '[\x00-\x08\x0B\x0E-\x1F\x{007F}-\x{009F}]')) > 0)
             AS suspect
         FROM m ORDER BY doc_id""",

    // q140: the keep-best rule is a window — replayed exactly.
    "q140_dedup_keep_best" ->
      """WITH d AS (
           SELECT doc_id % 97 AS dup_key, doc_id, n_chars, lang FROM documents
         ), r AS (
           SELECT *, row_number() OVER (
             PARTITION BY dup_key
             ORDER BY n_chars DESC NULLS LAST, doc_id) AS rn
           FROM d
         )
         SELECT dup_key, doc_id, n_chars, lang FROM r
         WHERE rn = 1 ORDER BY dup_key, doc_id""",

    // q141: same planted sequences via chr() code points; DuckDB's
    // nfc_normalize is the same UAX #15 NFC. length() counts code
    // points in both engines.
    "q141_unicode_normalize" ->
      """WITH m AS (
           SELECT doc_id,
             text ||
             CASE WHEN doc_id % 2 = 0 THEN ' cafe' || chr(769) ELSE '' END ||
             CASE WHEN doc_id % 3 = 0
                  THEN ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
                  ELSE '' END ||
             CASE WHEN doc_id % 5 = 0
                  THEN ' d' || chr(233) || 'j' || chr(224) ELSE '' END AS t
           FROM documents
         )
         SELECT doc_id,
           nfc_normalize(t) AS nfc,
           CAST(length(t) AS INT) AS len_raw,
           CAST(length(nfc_normalize(t)) AS INT) AS len_nfc,
           (nfc_normalize(t) <> t) AS changed
         FROM m ORDER BY doc_id""",

    // q142: suffix blocklist semantics replayed as exact-or-parent
    // (`dom = b OR dom LIKE '%.' || b`).
    "q142_domain_blocklist" ->
      """WITH u AS (
           SELECT doc_id, lang, source,
             'w' || (doc_id % 4) || '.s' || (doc_id % 5) ||
             '.example' || (doc_id % 3) || '.com' AS dom
           FROM documents
         ), b AS (
           SELECT * FROM (VALUES ('example0.com'), ('w1.s2.example1.com'),
                                 ('s3.example2.com'), ('other.net')) AS t(d)
         )
         SELECT doc_id, lang, source FROM u
         WHERE NOT EXISTS (
           SELECT 1 FROM b WHERE u.dom = b.d OR u.dom LIKE '%.' || b.d)
         ORDER BY doc_id""",

    // q143: n-grams rebuilt with a list comprehension over the same
    // explicit-class tokenizer; same (count desc, ngram) total order.
    "q143_frequent_ngrams" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f]+'),
                         t -> len(t) > 0) AS t
           FROM documents
         ), grams AS (
           SELECT doc_id,
             unnest([array_to_string(t[i:i+2], ' ')
                     for i in range(1, len(t) - 1)]) AS ngram
           FROM toks WHERE len(t) >= 3
         )
         SELECT ngram,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
         FROM grams GROUP BY ngram
         HAVING count(*) >= 2
         ORDER BY n_occurrences DESC, ngram LIMIT 50""",

    // q252: the q143 tokenizer/list-comprehension gram builder on both
    // corpus halves, DISTINCT (id, gram) sets, gram-keyed join.
    "q252_contamination" ->
      """WITH ttoks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f]+'),
                         t -> len(t) > 0) AS t
           FROM documents WHERE doc_id % 2 = 0
         ), tg AS (
           SELECT DISTINCT doc_id,
             unnest([array_to_string(t[i:i+4], ' ')
                     for i in range(1, len(t) - 3)]) AS g
           FROM ttoks WHERE len(t) >= 5
         ), btoks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f]+'),
                         t -> len(t) > 0) AS t
           FROM documents WHERE doc_id % 2 = 1
         ), bg AS (
           SELECT DISTINCT doc_id AS bid,
             unnest([array_to_string(t[i:i+4], ' ')
                     for i in range(1, len(t) - 3)]) AS g
           FROM btoks WHERE len(t) >= 5
         ), tot AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
           FROM tg GROUP BY doc_id
         ), hits AS (
           SELECT tg.doc_id,
             CAST(count(DISTINCT tg.g) AS BIGINT) AS n_hit_grams,
             CAST(count(DISTINCT bg.bid) AS BIGINT) AS n_bench_docs
           FROM tg JOIN bg ON bg.g = tg.g
           GROUP BY tg.doc_id
         )
         SELECT h.doc_id, t.n_grams, h.n_hit_grams, h.n_bench_docs,
           round(CAST(h.n_hit_grams AS DOUBLE) / t.n_grams + 1e-9, 6)
             AS contamination
         FROM hits h JOIN tot t ON t.doc_id = h.doc_id
         ORDER BY h.doc_id""",

    // q148: identical floor/clamp arithmetic; range() supplies the
    // empty bins.
    "q148_histogram" ->
      """WITH b AS (
           SELECT CAST(least(greatest(floor(CAST(n_chars AS DOUBLE) / 30.0), 0.0),
                             19.0) AS INT) AS bin
           FROM documents WHERE n_chars IS NOT NULL
         ), c AS (SELECT bin, count(*) AS n FROM b GROUP BY bin)
         SELECT CAST(r.bin AS INT) AS bin,
           round(CAST(r.bin * 30.0 AS DOUBLE), 6) AS bin_lo,
           round(CAST((r.bin + 1) * 30.0 AS DOUBLE), 6) AS bin_hi,
           coalesce(c.n, 0) AS n
         FROM range(20) AS r(bin) LEFT JOIN c ON r.bin = c.bin
         ORDER BY bin""",

    // q149: per-column stats unioned; count(DISTINCT) excludes nulls in
    // both engines; min/max rendered as strings.
    "q149_profile_by" ->
      """WITH n AS (
           SELECT lang, 'n_chars' AS "column", count(*) AS n,
             count(*) FILTER (WHERE n_chars IS NULL) AS n_null,
             count(DISTINCT n_chars) AS n_distinct,
             CAST(min(n_chars) AS VARCHAR) AS min_str,
             CAST(max(n_chars) AS VARCHAR) AS max_str
           FROM documents GROUP BY lang
         ), s AS (
           SELECT lang, 'source' AS "column", count(*) AS n,
             count(*) FILTER (WHERE source IS NULL) AS n_null,
             count(DISTINCT source) AS n_distinct,
             CAST(min(source) AS VARCHAR) AS min_str,
             CAST(max(source) AS VARCHAR) AS max_str
           FROM documents GROUP BY lang
         )
         SELECT * FROM n UNION ALL SELECT * FROM s
         ORDER BY lang, "column" """,

    // q150: both histograms and the ε-floored PSI arithmetic replayed.
    "q150_histogram_psi" ->
      """WITH ref AS (
           SELECT n_chars FROM documents WHERE doc_id % 2 = 0
         ), cur AS (
           SELECT n_chars + (doc_id % 7) * 50 AS n_chars
           FROM documents WHERE doc_id % 2 = 1
         ), hr AS (
           SELECT CAST(least(greatest(floor(CAST(n_chars AS DOUBLE) / 80.0), 0.0),
                             9.0) AS INT) AS bin, count(*) AS n
           FROM ref WHERE n_chars IS NOT NULL GROUP BY 1
         ), hc AS (
           SELECT CAST(least(greatest(floor(CAST(n_chars AS DOUBLE) / 80.0), 0.0),
                             9.0) AS INT) AS bin, count(*) AS n
           FROM cur WHERE n_chars IS NOT NULL GROUP BY 1
         ), j AS (
           SELECT CAST(r.bin AS INT) AS bin,
             round(CAST(r.bin * 80.0 AS DOUBLE), 6) AS bin_lo,
             round(CAST((r.bin + 1) * 80.0 AS DOUBLE), 6) AS bin_hi,
             coalesce(hr.n, 0) AS n_ref, coalesce(hc.n, 0) AS n_cur
           FROM range(10) AS r(bin)
             LEFT JOIN hr ON r.bin = hr.bin LEFT JOIN hc ON r.bin = hc.bin
         ), t AS (
           SELECT *,
             greatest(n_ref / CAST(sum(n_ref) OVER () AS DOUBLE), 0.0001) AS p,
             greatest(n_cur / CAST(sum(n_cur) OVER () AS DOUBLE), 0.0001) AS q
           FROM j
         )
         SELECT bin, bin_lo, bin_hi, n_ref, n_cur,
           round(p, 6) AS p, round(q, 6) AS q,
           round((p - q) * ln(p / q), 6) AS psi_contrib,
           round(sum((p - q) * ln(p / q)) OVER (), 6) AS psi_total
         FROM t ORDER BY bin""",

    // q151: all 64 dHash bits replayed as modular arithmetic — the 9×8
    // grid makes the bilinear sample an exact identity, and the gradient
    // construction makes bit(y·8+x) = ((base+sx·(x+1)+sy·y) mod 256 >
    // (base+sx·x+sy·y) mod 256).
    "q151_image_dhash" ->
      """WITH p AS (
           SELECT doc_id,
             doc_id % 256 AS base,
             20 + doc_id % 40 AS sx,
             3 + doc_id % 11 AS sy
           FROM documents
         ), bits AS (
           SELECT doc_id, g.y * 8 + g.x AS i,
             CASE WHEN (base + sx * (g.x + 1) + sy * g.y) % 256 >
                       (base + sx * g.x + sy * g.y) % 256
                  THEN 1 ELSE 0 END AS b
           FROM p, (SELECT xx.x AS x, yy.y AS y
                    FROM range(8) AS xx(x), range(8) AS yy(y)) g
         )
         SELECT doc_id,
           CAST(sum(CASE WHEN i >= 32
                         THEN b * (CAST(1 AS BIGINT) << (i - 32))
                         ELSE 0 END) AS BIGINT) AS hash_hi,
           CAST(sum(CASE WHEN i < 32
                         THEN b * (CAST(1 AS BIGINT) << i)
                         ELSE 0 END) AS BIGINT) AS hash_lo
         FROM bits GROUP BY doc_id ORDER BY doc_id""",

    // q152: brute-force replay — pigeonhole banding with uncapped
    // buckets guarantees the operator emits exactly the pairs with
    // hamming <= 6, so the oracle joins all pairs and filters.
    "q152_image_neardup" ->
      """WITH p AS (
           SELECT doc_id,
             (doc_id % 250) * 37 % 256 AS base,
             20 + (doc_id % 250) % 40 +
               (CASE WHEN doc_id >= 250 THEN doc_id % 2 ELSE 0 END) AS sx,
             3 + (doc_id % 250) % 11 AS sy
           FROM documents
         ), bits AS (
           SELECT doc_id, g.y * 8 + g.x AS i,
             CASE WHEN (base + sx * (g.x + 1) + sy * g.y) % 256 >
                       (base + sx * g.x + sy * g.y) % 256
                  THEN 1 ELSE 0 END AS b
           FROM p, (SELECT xx.x AS x, yy.y AS y
                    FROM range(8) AS xx(x), range(8) AS yy(y)) g
         ), h AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN i >= 32
                           THEN b * (CAST(1 AS BIGINT) << (i - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(sum(CASE WHEN i < 32
                           THEN b * (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS lo
           FROM bits GROUP BY doc_id
         )
         SELECT a.doc_id AS idA, b.doc_id AS idB,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                AS INTEGER) AS hamming
         FROM h a JOIN h b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 6
         ORDER BY idA, idB""",

    // q158: hash-equality clusters (maxHamming 0) — group the replayed
    // 64-bit hashes, keep each group's minimum id.
    "q158_image_dedup" ->
      """WITH p AS (
           SELECT doc_id,
             (doc_id % 250) * 37 % 256 AS base,
             20 + (doc_id % 250) % 40 +
               (CASE WHEN doc_id >= 250 THEN doc_id % 2 ELSE 0 END) AS sx,
             3 + (doc_id % 250) % 11 AS sy
           FROM documents
         ), bits AS (
           SELECT doc_id, g.y * 8 + g.x AS i,
             CASE WHEN (base + sx * (g.x + 1) + sy * g.y) % 256 >
                       (base + sx * g.x + sy * g.y) % 256
                  THEN 1 ELSE 0 END AS b
           FROM p, (SELECT xx.x AS x, yy.y AS y
                    FROM range(8) AS xx(x), range(8) AS yy(y)) g
         ), h AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN i >= 32
                           THEN b * (CAST(1 AS BIGINT) << (i - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(sum(CASE WHEN i < 32
                           THEN b * (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS lo
           FROM bits GROUP BY doc_id
         )
         SELECT doc_id FROM (
           SELECT doc_id, min(doc_id) OVER (PARTITION BY hi, lo) AS rep
           FROM h
         ) WHERE doc_id = rep ORDER BY doc_id""",

    // q159: fingerprint-equality clusters (minMatches == frame count) —
    // group the replayed bin sequences, keep each group's minimum id.
    "q159_audio_dedup" ->
      """WITH fp AS (
           SELECT doc_id,
             3 + ((doc_id % 250) * 7) % 97 +
               (CASE WHEN doc_id >= 250 AND doc_id % 2 = 1
                     THEN 1 ELSE 0 END) AS b0,
             3 + ((doc_id % 250) * 7 + 11) % 97 AS b1,
             3 + ((doc_id % 250) * 7 + 22) % 97 AS b2,
             3 + ((doc_id % 250) * 7 + 33) % 97 AS b3
           FROM documents
         )
         SELECT doc_id FROM (
           SELECT doc_id, min(doc_id) OVER (PARTITION BY b0, b1, b2, b3) AS rep
           FROM fp
         ) WHERE doc_id = rep ORDER BY doc_id""",

    // q160: per-frame dHash replay (the q152 bits arithmetic, per
    // (doc_id, frame)) → brute-force aligned-frame equality join.
    "q160_video_neardup" ->
      """WITH p AS (
           SELECT doc_id, f.f AS frame,
             ((doc_id % 250) * 37 + f.f * 13) % 256 AS base,
             20 + (doc_id % 250) % 40 +
               (CASE WHEN doc_id >= 250 AND doc_id % 2 = 1 AND f.f = 0
                     THEN 1 ELSE 0 END) AS sx,
             3 + ((doc_id % 250) + f.f) % 11 AS sy
           FROM documents, range(4) AS f(f)
         ), bits AS (
           SELECT doc_id, frame, g.y * 8 + g.x AS i,
             CASE WHEN (base + sx * (g.x + 1) + sy * g.y) % 256 >
                       (base + sx * g.x + sy * g.y) % 256
                  THEN 1 ELSE 0 END AS b
           FROM p, (SELECT xx.x AS x, yy.y AS y
                    FROM range(8) AS xx(x), range(8) AS yy(y)) g
         ), h AS (
           SELECT doc_id, frame,
             CAST(sum(CASE WHEN i >= 32
                           THEN b * (CAST(1 AS BIGINT) << (i - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(sum(CASE WHEN i < 32
                           THEN b * (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS lo
           FROM bits GROUP BY doc_id, frame
         )
         SELECT a.doc_id AS idA, b.doc_id AS idB,
           CAST(count(*) AS BIGINT) AS n_matches
         FROM h a JOIN h b
           ON a.frame = b.frame AND a.hi = b.hi AND a.lo = b.lo
             AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 3
         ORDER BY idA, idB""",

    // q161: fingerprint-equality clusters (minMatches == frame count) —
    // group the replayed frame-hash sequences, keep each group's minimum.
    "q161_video_dedup" ->
      """WITH p AS (
           SELECT doc_id, f.f AS frame,
             ((doc_id % 250) * 37 + f.f * 13) % 256 AS base,
             20 + (doc_id % 250) % 40 +
               (CASE WHEN doc_id >= 250 AND doc_id % 2 = 1 AND f.f = 0
                     THEN 1 ELSE 0 END) AS sx,
             3 + ((doc_id % 250) + f.f) % 11 AS sy
           FROM documents, range(4) AS f(f)
         ), bits AS (
           SELECT doc_id, frame, g.y * 8 + g.x AS i,
             CASE WHEN (base + sx * (g.x + 1) + sy * g.y) % 256 >
                       (base + sx * g.x + sy * g.y) % 256
                  THEN 1 ELSE 0 END AS b
           FROM p, (SELECT xx.x AS x, yy.y AS y
                    FROM range(8) AS xx(x), range(8) AS yy(y)) g
         ), h AS (
           SELECT doc_id, frame,
             CAST(sum(CASE WHEN i >= 32
                           THEN b * (CAST(1 AS BIGINT) << (i - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(sum(CASE WHEN i < 32
                           THEN b * (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS lo
           FROM bits GROUP BY doc_id, frame
         ), fp AS (
           SELECT doc_id,
             string_agg(hi || ':' || lo, ',' ORDER BY frame) AS key
           FROM h GROUP BY doc_id
         )
         SELECT doc_id FROM (
           SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS rep
           FROM fp
         ) WHERE doc_id = rep ORDER BY doc_id""",

    // q162: the q152 hash replay → 9-bit band slices (bandBits =
    // ⌊64/7⌋, 7 bands; band 3 straddles the lo/hi split) → occupancy
    // counters at maxBucket = 3.
    "q162_image_cap_report" ->
      """WITH p AS (
           SELECT doc_id,
             (doc_id % 250) * 37 % 256 AS base,
             20 + (doc_id % 250) % 40 +
               (CASE WHEN doc_id >= 250 THEN doc_id % 2 ELSE 0 END) AS sx,
             3 + (doc_id % 250) % 11 AS sy
           FROM documents
         ), bits AS (
           SELECT doc_id, g.y * 8 + g.x AS i,
             CASE WHEN (base + sx * (g.x + 1) + sy * g.y) % 256 >
                       (base + sx * g.x + sy * g.y) % 256
                  THEN 1 ELSE 0 END AS b
           FROM p, (SELECT xx.x AS x, yy.y AS y
                    FROM range(8) AS xx(x), range(8) AS yy(y)) g
         ), h AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN i >= 32
                           THEN b * (CAST(1 AS BIGINT) << (i - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(sum(CASE WHEN i < 32
                           THEN b * (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS lo
           FROM bits GROUP BY doc_id
         ), bands AS (
           SELECT doc_id, bb.b AS band,
             CASE WHEN bb.b <= 2 THEN (lo >> (9 * bb.b)) & 511
                  WHEN bb.b = 3 THEN ((lo >> 27) & 31) | ((hi & 15) << 5)
                  ELSE (hi >> (9 * bb.b - 32)) & 511 END AS bucket
           FROM h, range(7) AS bb(b)
         ), occ AS (
           SELECT band, bucket, count(*) AS n
           FROM bands GROUP BY band, bucket
         )
         SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(count(CASE WHEN n > 3 THEN 1 END) AS BIGINT)
             AS n_dropped_buckets,
           CAST(coalesce(sum(CASE WHEN n > 3 THEN n END), 0) AS BIGINT)
             AS rows_in_dropped_buckets,
           CAST(coalesce(max(n), 0) AS BIGINT) AS max_occupancy
         FROM occ""",

    // q163: the q160 per-frame hash replay → 2-frame band keys →
    // occupancy counters at maxBucket = 1 (bucket identity is the
    // grouped hash string; the engine-side xxhash64 only renames it).
    "q163_video_cap_report" ->
      """WITH p AS (
           SELECT doc_id, f.f AS frame,
             ((doc_id % 250) * 37 + f.f * 13) % 256 AS base,
             20 + (doc_id % 250) % 40 +
               (CASE WHEN doc_id >= 250 AND doc_id % 2 = 1 AND f.f = 0
                     THEN 1 ELSE 0 END) AS sx,
             3 + ((doc_id % 250) + f.f) % 11 AS sy
           FROM documents, range(4) AS f(f)
         ), bits AS (
           SELECT doc_id, frame, g.y * 8 + g.x AS i,
             CASE WHEN (base + sx * (g.x + 1) + sy * g.y) % 256 >
                       (base + sx * g.x + sy * g.y) % 256
                  THEN 1 ELSE 0 END AS b
           FROM p, (SELECT xx.x AS x, yy.y AS y
                    FROM range(8) AS xx(x), range(8) AS yy(y)) g
         ), h AS (
           SELECT doc_id, frame,
             CAST(sum(CASE WHEN i >= 32
                           THEN b * (CAST(1 AS BIGINT) << (i - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(sum(CASE WHEN i < 32
                           THEN b * (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS lo
           FROM bits GROUP BY doc_id, frame
         ), bk AS (
           SELECT doc_id, frame // 2 AS band,
             string_agg(hi || ':' || lo, ',' ORDER BY frame) AS key
           FROM h GROUP BY doc_id, frame // 2
         ), occ AS (
           SELECT band, key, count(*) AS n FROM bk GROUP BY band, key
         )
         SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(count(CASE WHEN n > 1 THEN 1 END) AS BIGINT)
             AS n_dropped_buckets,
           CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT)
             AS rows_in_dropped_buckets,
           CAST(coalesce(max(n), 0) AS BIGINT) AS max_occupancy
         FROM occ""",

    // q164: cross-corpus dHash anti-join — a batch image survives iff no
    // reference hash sits within Hamming 6.
    "q164_image_dedup_against" ->
      """WITH p AS (
           SELECT doc_id,
             (doc_id % 250) * 37 % 256 AS base,
             20 + (doc_id % 250) % 40 +
               (CASE WHEN doc_id >= 250
                     THEN (CASE WHEN doc_id % 5 = 0 THEN 9
                           ELSE doc_id % 2 END)
                     ELSE 0 END) AS sx,
             3 + (doc_id % 250) % 11 +
               (CASE WHEN doc_id >= 250 AND doc_id % 5 = 0
                     THEN 13 ELSE 0 END) AS sy
           FROM documents
         ), bits AS (
           SELECT doc_id, g.y * 8 + g.x AS i,
             CASE WHEN (base + sx * (g.x + 1) + sy * g.y) % 256 >
                       (base + sx * g.x + sy * g.y) % 256
                  THEN 1 ELSE 0 END AS b
           FROM p, (SELECT xx.x AS x, yy.y AS y
                    FROM range(8) AS xx(x), range(8) AS yy(y)) g
         ), h AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN i >= 32
                           THEN b * (CAST(1 AS BIGINT) << (i - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(sum(CASE WHEN i < 32
                           THEN b * (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS lo
           FROM bits GROUP BY doc_id
         )
         SELECT b.doc_id FROM h b
         WHERE b.doc_id >= 250 AND NOT EXISTS (
           SELECT 1 FROM h r WHERE r.doc_id < 250
             AND bit_count(xor(b.hi, r.hi)) + bit_count(xor(b.lo, r.lo)) <= 6
         ) ORDER BY doc_id""",

    // q165: cross-corpus aligned-frame agreement — a batch clip survives
    // iff no reference clip agrees on >= 3 of 4 frames.
    "q165_audio_dedup_against" ->
      """WITH fp AS (
           SELECT doc_id, f.f AS frame,
             CASE WHEN doc_id >= 250 AND doc_id % 5 = 0
                  THEN 100 + ((doc_id % 250) * 7 + f.f * 11) % 28
                  WHEN doc_id >= 250 AND doc_id % 2 = 1 AND f.f = 0
                  THEN 3 + ((doc_id % 250) * 7 + f.f * 11) % 97 + 1
                  ELSE 3 + ((doc_id % 250) * 7 + f.f * 11) % 97 END AS bin
           FROM documents, range(4) AS f(f)
         ), hits AS (
           SELECT a.doc_id FROM fp a JOIN fp r
             ON a.doc_id >= 250 AND r.doc_id < 250
               AND a.frame = r.frame AND a.bin = r.bin
           GROUP BY a.doc_id, r.doc_id HAVING count(*) >= 3
         )
         SELECT DISTINCT doc_id FROM fp
         WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM hits)
         ORDER BY doc_id""",

    // q166: cross-corpus aligned-frame hash agreement over the video
    // corpus (novel batch clips shift every frame's base by 101).
    "q166_video_dedup_against" ->
      """WITH p AS (
           SELECT doc_id, f.f AS frame,
             ((doc_id % 250) * 37 + f.f * 13 +
               (CASE WHEN doc_id >= 250 AND doc_id % 5 = 0
                     THEN 101 ELSE 0 END)) % 256 AS base,
             20 + (doc_id % 250) % 40 +
               (CASE WHEN doc_id >= 250 AND doc_id % 2 = 1 AND f.f = 0
                       AND doc_id % 5 <> 0
                     THEN 1 ELSE 0 END) AS sx,
             3 + ((doc_id % 250) + f.f) % 11 AS sy
           FROM documents, range(4) AS f(f)
         ), bits AS (
           SELECT doc_id, frame, g.y * 8 + g.x AS i,
             CASE WHEN (base + sx * (g.x + 1) + sy * g.y) % 256 >
                       (base + sx * g.x + sy * g.y) % 256
                  THEN 1 ELSE 0 END AS b
           FROM p, (SELECT xx.x AS x, yy.y AS y
                    FROM range(8) AS xx(x), range(8) AS yy(y)) g
         ), h AS (
           SELECT doc_id, frame,
             CAST(sum(CASE WHEN i >= 32
                           THEN b * (CAST(1 AS BIGINT) << (i - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(sum(CASE WHEN i < 32
                           THEN b * (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS lo
           FROM bits GROUP BY doc_id, frame
         ), hits AS (
           SELECT a.doc_id FROM h a JOIN h r
             ON a.doc_id >= 250 AND r.doc_id < 250
               AND a.frame = r.frame AND a.hi = r.hi AND a.lo = r.lo
           GROUP BY a.doc_id, r.doc_id HAVING count(*) >= 3
         )
         SELECT DISTINCT doc_id FROM h
         WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM hits)
         ORDER BY doc_id""",

    // q167: the q164 hash replay → 9-bit band slices (q162's layout),
    // occupancy counters per SIDE at maxBucket = 3.
    "q167_image_incr_cap_report" ->
      """WITH p AS (
           SELECT doc_id,
             CASE WHEN doc_id >= 250 THEN 'batch' ELSE 'reference' END
               AS side,
             (doc_id % 250) * 37 % 256 AS base,
             20 + (doc_id % 250) % 40 +
               (CASE WHEN doc_id >= 250
                     THEN (CASE WHEN doc_id % 5 = 0 THEN 9
                           ELSE doc_id % 2 END)
                     ELSE 0 END) AS sx,
             3 + (doc_id % 250) % 11 +
               (CASE WHEN doc_id >= 250 AND doc_id % 5 = 0
                     THEN 13 ELSE 0 END) AS sy
           FROM documents
         ), bits AS (
           SELECT doc_id, side, g.y * 8 + g.x AS i,
             CASE WHEN (base + sx * (g.x + 1) + sy * g.y) % 256 >
                       (base + sx * g.x + sy * g.y) % 256
                  THEN 1 ELSE 0 END AS b
           FROM p, (SELECT xx.x AS x, yy.y AS y
                    FROM range(8) AS xx(x), range(8) AS yy(y)) g
         ), h AS (
           SELECT doc_id, side,
             CAST(sum(CASE WHEN i >= 32
                           THEN b * (CAST(1 AS BIGINT) << (i - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(sum(CASE WHEN i < 32
                           THEN b * (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS lo
           FROM bits GROUP BY doc_id, side
         ), bands AS (
           SELECT doc_id, side, bb.b AS band,
             CASE WHEN bb.b <= 2 THEN (lo >> (9 * bb.b)) & 511
                  WHEN bb.b = 3 THEN ((lo >> 27) & 31) | ((hi & 15) << 5)
                  ELSE (hi >> (9 * bb.b - 32)) & 511 END AS bucket
           FROM h, range(7) AS bb(b)
         ), occ AS (
           SELECT side, band, bucket, count(*) AS n
           FROM bands GROUP BY 1, 2, 3
         )
         SELECT side, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(count(CASE WHEN n > 3 THEN 1 END) AS BIGINT)
             AS n_dropped_buckets,
           CAST(coalesce(sum(CASE WHEN n > 3 THEN n END), 0) AS BIGINT)
             AS rows_in_dropped_buckets,
           CAST(coalesce(max(n), 0) AS BIGINT) AS max_occupancy
         FROM occ GROUP BY side ORDER BY side""",

    // q168: the q165 bin replay → 2-frame band keys → occupancy
    // counters per SIDE at maxBucket = 1 (bucket identity is the
    // grouped bin string; the engine-side xxhash64 only renames it).
    "q168_audio_incr_cap_report" ->
      """WITH fp AS (
           SELECT doc_id,
             CASE WHEN doc_id >= 250 THEN 'batch' ELSE 'reference' END
               AS side,
             f.f AS frame,
             CASE WHEN doc_id >= 250 AND doc_id % 5 = 0
                  THEN 100 + ((doc_id % 250) * 7 + f.f * 11) % 28
                  WHEN doc_id >= 250 AND doc_id % 2 = 1 AND f.f = 0
                  THEN 3 + ((doc_id % 250) * 7 + f.f * 11) % 97 + 1
                  ELSE 3 + ((doc_id % 250) * 7 + f.f * 11) % 97 END AS bin
           FROM documents, range(4) AS f(f)
         ), bk AS (
           SELECT side, doc_id, frame // 2 AS band,
             string_agg(bin, ',' ORDER BY frame) AS key
           FROM fp GROUP BY side, doc_id, frame // 2
         ), occ AS (
           SELECT side, band, key, count(*) AS n FROM bk GROUP BY 1, 2, 3
         )
         SELECT side, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(count(CASE WHEN n > 1 THEN 1 END) AS BIGINT)
             AS n_dropped_buckets,
           CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT)
             AS rows_in_dropped_buckets,
           CAST(coalesce(max(n), 0) AS BIGINT) AS max_occupancy
         FROM occ GROUP BY side ORDER BY side""",

    // q169: the q166 per-frame hash replay → 2-frame band keys →
    // occupancy counters per SIDE at maxBucket = 1.
    "q169_video_incr_cap_report" ->
      """WITH p AS (
           SELECT doc_id,
             CASE WHEN doc_id >= 250 THEN 'batch' ELSE 'reference' END
               AS side,
             f.f AS frame,
             ((doc_id % 250) * 37 + f.f * 13 +
               (CASE WHEN doc_id >= 250 AND doc_id % 5 = 0
                     THEN 101 ELSE 0 END)) % 256 AS base,
             20 + (doc_id % 250) % 40 +
               (CASE WHEN doc_id >= 250 AND doc_id % 2 = 1 AND f.f = 0
                       AND doc_id % 5 <> 0
                     THEN 1 ELSE 0 END) AS sx,
             3 + ((doc_id % 250) + f.f) % 11 AS sy
           FROM documents, range(4) AS f(f)
         ), bits AS (
           SELECT doc_id, side, frame, g.y * 8 + g.x AS i,
             CASE WHEN (base + sx * (g.x + 1) + sy * g.y) % 256 >
                       (base + sx * g.x + sy * g.y) % 256
                  THEN 1 ELSE 0 END AS b
           FROM p, (SELECT xx.x AS x, yy.y AS y
                    FROM range(8) AS xx(x), range(8) AS yy(y)) g
         ), h AS (
           SELECT doc_id, side, frame,
             CAST(sum(CASE WHEN i >= 32
                           THEN b * (CAST(1 AS BIGINT) << (i - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(sum(CASE WHEN i < 32
                           THEN b * (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS lo
           FROM bits GROUP BY doc_id, side, frame
         ), bk AS (
           SELECT side, doc_id, frame // 2 AS band,
             string_agg(hi || ':' || lo, ',' ORDER BY frame) AS key
           FROM h GROUP BY side, doc_id, frame // 2
         ), occ AS (
           SELECT side, band, key, count(*) AS n FROM bk GROUP BY 1, 2, 3
         )
         SELECT side, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(count(CASE WHEN n > 1 THEN 1 END) AS BIGINT)
             AS n_dropped_buckets,
           CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT)
             AS rows_in_dropped_buckets,
           CAST(coalesce(max(n), 0) AS BIGINT) AS max_occupancy
         FROM occ GROUP BY side ORDER BY side""",

    // q170: TREC nDCG/MRR/P/R@10 — ranked lists and graded judgments
    // replay as modular arithmetic; ideal DCG positions sort grades
    // descending (ties interchangeable, sum order-invariant).
    "q170_retrieval_metrics" ->
      """WITH res AS (
           SELECT doc_id AS qid, r.r AS rank,
             (doc_id * 31 + r.r * 7) % 500 AS did
           FROM documents, range(1, 11) AS r(r)
           WHERE doc_id < 10
         ), jd AS (
           SELECT qq.q AS qid, d.doc_id AS did,
             1 + d.doc_id % 3 AS rel
           FROM documents d, range(10) AS qq(q)
           WHERE (d.doc_id * 13 + qq.q * 5) % 7 = 0
         ), ideal AS (
           SELECT qid, CAST(count(*) AS BIGINT) AS n_relevant,
             sum(CASE WHEN pos <= 10
                      THEN (pow(2, rel) - 1) / log2(pos + 1) END) AS idcg
           FROM (SELECT qid, rel,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY rel DESC, did) AS pos
                 FROM jd)
           GROUP BY qid
         ), hit AS (
           SELECT res.qid,
             sum((pow(2, rel) - 1) / log2(rank + 1)) AS dcg,
             1.0 / min(rank) AS mrr,
             CAST(count(*) AS BIGINT) AS n_hit
           FROM res JOIN jd ON res.qid = jd.qid AND res.did = jd.did
           GROUP BY res.qid
         )
         SELECT i.qid AS queryId,
           CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit, n_relevant,
           round(coalesce(dcg, 0) / idcg, 6) AS ndcg,
           round(coalesce(mrr, 0), 6) AS mrr,
           round(coalesce(n_hit, 0) / 10.0, 6) AS "precision",
           round(coalesce(n_hit, 0) / n_relevant, 6) AS recall
         FROM ideal i LEFT JOIN hit ON i.qid = hit.qid
         ORDER BY queryId""",

    // q171: TPC-H Q9 shape; supply cost modeled as 0.4·retailprice·qty
    // (no partsupp table in this schema). Profit terms are exact at 4
    // decimals (2-decimal money), so both engines accumulate ×10⁴
    // bigints — order-independent, deterministic cent rounding.
    "q171_tpch9" ->
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(sum(CAST(round((l_extendedprice * (1 - l_discount)
                     - 0.4 * p_retailprice * l_quantity) * 10000) AS BIGINT))
                 / 10000.0, 2) AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%widget%'
         GROUP BY n_name, o_year
         ORDER BY n_name, o_year DESC""",

    // q172: TPC-H Q22 shape — above-average-balance customers with no
    // orders, per country; scaled-integer cents for the balance total.
    "q172_tpch22" ->
      """SELECT c_nationkey AS cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0, 2)
             AS totacctbal
         FROM customer
         WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                            WHERE c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_nationkey ORDER BY cntrycode""",

    // q173: TPC-H Q21 shape in its correlated EXISTS / NOT-EXISTS form —
    // the Spark side runs the decorrelated aggregate formulation; the two
    // are equivalent (≥2 distinct suppliers ∧ exactly one distinct 'R'
    // supplier, which is l1's own).
    "q173_tpch21" ->
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
         FROM supplier
         JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         JOIN orders ON o_orderkey = l1.l_orderkey
         WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
         GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10""",

    // q174: TPC-H Q8 shape — NATION_8's share of PROMO-part volume
    // supplied to ASIA customers, per order year. Numerator and
    // denominator are exact ×10⁴ bigints; only the final 6-decimal
    // ratio is a double.
    "q174_tpch8" ->
      """WITH vol AS (
           SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                  AS BIGINT) AS v4,
             n2.n_name AS nation
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
           JOIN orders ON l_orderkey = o_orderkey
           WHERE p_type = 'PROMO'
             AND o_orderdate BETWEEN '1996-01-01' AND '1997-12-31'
             AND EXISTS (SELECT 1 FROM customer c
                         JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
                         JOIN region r ON n1.n_regionkey = r.r_regionkey
                         WHERE c.c_custkey = orders.o_custkey
                           AND r.r_name = 'ASIA'))
         SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_8' THEN v4 ELSE 0 END)
                 * 1.0 / sum(v4), 6) AS mkt_share
         FROM vol GROUP BY o_year ORDER BY o_year""",

    // q175: TPC-H Q13 shape — order-count histogram with the priority
    // predicate inside the LEFT JOIN condition (zero-order customers
    // keep their row).
    "q175_tpch13" ->
      """WITH per AS (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
         FROM per GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",

    // q176: TPC-H Q15 shape — the revenue view in exact ×10⁴ bigints, the
    // max as a scalar subquery, winner by bigint equality.
    "q176_tpch15" ->
      """WITH rev AS (
           SELECT l_suppkey AS s_suppkey,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) AS r4
           FROM lineitem
           WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-03-31'
           GROUP BY 1)
         SELECT r.s_suppkey, s_name, round(r4 / 10000.0, 2) AS total_revenue
         FROM rev r JOIN supplier s ON r.s_suppkey = s.s_suppkey
         WHERE r4 = (SELECT max(r4) FROM rev)
         ORDER BY r.s_suppkey""",

    // q177: TPC-H Q17 shape in its correlated form — the Spark side runs
    // the decorrelated grouped-avg formulation; quantities are integral
    // doubles so sum/count×0.2 is bit-identical, revenue in exact cents.
    "q177_tpch17" ->
      """WITH branded AS (
           SELECT l_partkey, l_quantity, l_extendedprice
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand = 'Brand#23'),
         thr AS (
           SELECT l_partkey, sum(l_quantity) / count(*) * 0.2 AS qthr
           FROM branded GROUP BY l_partkey)
         SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                / 100.0 / 7.0, 2) AS avg_yearly
         FROM branded b JOIN thr t ON b.l_partkey = t.l_partkey
         WHERE b.l_quantity < t.qthr""",

    // q178: TPC-H Q19 shape — three-branch disjunctive predicate across
    // the join; revenue in exact ×10⁴ scaled-integer form.
    "q178_tpch19" ->
      """SELECT round(sum(CAST(round(l_extendedprice * (1 - l_discount)
                * 10000) AS BIGINT)) / 10000.0, 2) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)""",

    // q179: greedy MMR replayed as a 4-step unrolled CTE chain — each
    // step scores the un-selected shortlist 0.5·rel − 0.5·max(sim to
    // selected) and picks the row_number-1 row (ties toward smaller id),
    // exactly the operator's greedy. λ=0.5 keeps both weights exact in
    // binary so the scores are bit-identical.
    "q179_mmr_select" ->
      """WITH cand AS (
           SELECT q.vec_id AS queryId, c.vec_id AS candId,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS rel
           FROM embeddings q, embeddings c
           WHERE q.vec_id BETWEEN 490 AND 492 AND c.vec_id < 60
             AND q.vec_id <> c.vec_id),
         short AS (
           SELECT queryId, candId, rel FROM (
             SELECT *, row_number() OVER (PARTITION BY queryId
                        ORDER BY rel DESC, candId) AS rn
             FROM cand) WHERE rn <= 12),
         sims AS (
           SELECT a.vec_id AS ida, b.vec_id AS idb,
             list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) AS sim
           FROM embeddings a, embeddings b
           WHERE a.vec_id < 60 AND b.vec_id < 60 AND a.vec_id <> b.vec_id),
         sel1 AS (
           SELECT queryId, candId, rel, 0.5 * rel AS mmr FROM (
             SELECT *, row_number() OVER (PARTITION BY queryId
                        ORDER BY rel DESC, candId) AS rn
             FROM short) WHERE rn = 1),
         pool2 AS (
           SELECT s.* FROM short s LEFT JOIN sel1 x
             ON x.queryId = s.queryId AND x.candId = s.candId
           WHERE x.candId IS NULL),
         step2 AS (
           SELECT p.queryId, p.candId, p.rel,
             0.5 * p.rel - 0.5 * max(ss.sim) AS mmr
           FROM pool2 p JOIN sel1 t ON t.queryId = p.queryId
           JOIN sims ss ON ss.ida = p.candId AND ss.idb = t.candId
           GROUP BY p.queryId, p.candId, p.rel),
         sel2 AS (
           SELECT queryId, candId, rel, mmr FROM (
             SELECT *, row_number() OVER (PARTITION BY queryId
                        ORDER BY mmr DESC, candId) AS rn
             FROM step2) WHERE rn = 1),
         prev3 AS (
           SELECT queryId, candId FROM sel1
           UNION ALL SELECT queryId, candId FROM sel2),
         pool3 AS (
           SELECT s.* FROM short s LEFT JOIN prev3 x
             ON x.queryId = s.queryId AND x.candId = s.candId
           WHERE x.candId IS NULL),
         step3 AS (
           SELECT p.queryId, p.candId, p.rel,
             0.5 * p.rel - 0.5 * max(ss.sim) AS mmr
           FROM pool3 p JOIN prev3 t ON t.queryId = p.queryId
           JOIN sims ss ON ss.ida = p.candId AND ss.idb = t.candId
           GROUP BY p.queryId, p.candId, p.rel),
         sel3 AS (
           SELECT queryId, candId, rel, mmr FROM (
             SELECT *, row_number() OVER (PARTITION BY queryId
                        ORDER BY mmr DESC, candId) AS rn
             FROM step3) WHERE rn = 1),
         prev4 AS (
           SELECT queryId, candId FROM prev3
           UNION ALL SELECT queryId, candId FROM sel3),
         pool4 AS (
           SELECT s.* FROM short s LEFT JOIN prev4 x
             ON x.queryId = s.queryId AND x.candId = s.candId
           WHERE x.candId IS NULL),
         step4 AS (
           SELECT p.queryId, p.candId, p.rel,
             0.5 * p.rel - 0.5 * max(ss.sim) AS mmr
           FROM pool4 p JOIN prev4 t ON t.queryId = p.queryId
           JOIN sims ss ON ss.ida = p.candId AND ss.idb = t.candId
           GROUP BY p.queryId, p.candId, p.rel),
         sel4 AS (
           SELECT queryId, candId, rel, mmr FROM (
             SELECT *, row_number() OVER (PARTITION BY queryId
                        ORDER BY mmr DESC, candId) AS rn
             FROM step4) WHERE rn = 1)
         SELECT queryId, CAST(rank AS INTEGER) AS rank, candId,
           round(rel, 6) AS relevance, round(mmr, 6) AS mmr
         FROM (
           SELECT *, 1 AS rank FROM sel1
           UNION ALL SELECT *, 2 AS rank FROM sel2
           UNION ALL SELECT *, 3 AS rank FROM sel3
           UNION ALL SELECT *, 4 AS rank FROM sel4)
         ORDER BY queryId, rank""",

    // q180: the recall estimator replayed end-to-end — the portable
    // sample draw, the brute-force exact-Jaccard truth inside the
    // sample, the even-idA generator handicap, and the ratio arithmetic.
    // Generator pairs replay as exact Jaccard >= 0.5 over the full
    // corpus (the q34 equivalence: every true pair here sits at >= 0.9
    // where 16x4 banding recall is 1 - 4e-8).
    "q180_pair_recall" ->
      """WITH samp AS (
           SELECT doc_id, text FROM documents
           WHERE (CAST(('0x' || substring(md5('recall§' ||
                    CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 1000000) < 200000),
         stoks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM samp),
         ssh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(ts)-1),
               i -> ts[i] || chr(1) || ts[i+1] || chr(1) || ts[i+2])) AS shingles
           FROM stoks WHERE len(ts) >= 3),
         truth AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB
           FROM ssh a JOIN ssh b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shingles, b.shingles)))
                 >= 0.5),
         ftoks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents),
         fsh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(ts)-1),
               i -> ts[i] || chr(1) || ts[i+1] || chr(1) || ts[i+2])) AS shingles
           FROM ftoks WHERE len(ts) >= 3),
         gpairs AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB
           FROM fsh a JOIN fsh b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shingles, b.shingles)))
                 >= 0.5
             AND (a.doc_id % 2) = 0),
         rec AS (
           SELECT t.idA, t.idB FROM truth t
           WHERE EXISTS (SELECT 1 FROM gpairs g
                         WHERE g.idA = t.idA AND g.idB = t.idB))
         SELECT (SELECT count(*) FROM samp) AS n_sampled,
           (SELECT count(*) FROM truth) AS true_pairs,
           (SELECT count(*) FROM rec) AS recalled_pairs,
           CASE WHEN (SELECT count(*) FROM truth) = 0 THEN NULL
                ELSE round((SELECT count(*) FROM rec) * 1.0
                      / (SELECT count(*) FROM truth), 6) END AS recall""",

    // q183: brute-force replay of nearest-within-tolerance — all pairs
    // inside ±2h ranked by (distance, backward-first), rank 1 kept,
    // left join back preserves unmatched clicks.
    "q183_asof_nearest" ->
      """WITH l AS (
           SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'click'),
         r AS (
           SELECT user_id, ts AS pts, round(value, 4) AS pv FROM events
           WHERE event_type = 'purchase'),
         cand AS (
           SELECT l.event_id, r.pts, r.pv,
             CASE WHEN r.pts <= l.ts THEN l.ts - r.pts
                  ELSE r.pts - l.ts END AS dist,
             CASE WHEN r.pts <= l.ts THEN 0 ELSE 1 END AS side
           FROM l JOIN r ON l.user_id = r.user_id
           WHERE r.pts BETWEEN l.ts - INTERVAL 2 HOUR
                           AND l.ts + INTERVAL 2 HOUR),
         best AS (
           SELECT event_id, pts, pv FROM (
             SELECT *, row_number() OVER (PARTITION BY event_id
                        ORDER BY dist, side) AS rn
             FROM cand) WHERE rn = 1)
         SELECT l.event_id, l.user_id, l.ts,
           b.pts AS purchase_ts, b.pv AS purchase_value
         FROM l LEFT JOIN best b ON b.event_id = l.event_id
         ORDER BY l.event_id""",

    // q186: exhaustive probes + exhaustive shortlist ⇒ exact top-k.
    "q186_ivfpq_knn" -> knnExactOracle,

    // q187: the gap-fill grid replayed — per-type span range, bucket
    // aggregation, left join, ignore-nulls carry-forward window; bucket
    // timestamps rebuilt with tz-free epoch arithmetic.
    // q233: the zero-filled grid + the full STL-lite replay — exact
    // 24-row centered MA (11 preceding / 12 following, the operator's
    // asymmetric even-period centering), integral detrended numerators,
    // per-phase rational means, float re-center under the tie-shift.
    "q233_seasonal" ->
      """WITH cells AS (
           SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             sum(round(value * 100)) AS v
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, b
         ), spans AS (
           SELECT event_type, min(b) AS lo, max(b) AS hi FROM cells
           GROUP BY event_type
         ), grid AS (
           SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
           FROM spans
         ), f AS (
           SELECT g.event_type, g.b, coalesce(c.v, 0) AS v
           FROM grid g LEFT JOIN cells c
             ON c.event_type = g.event_type AND c.b = g.b
         ), o AS (
           SELECT event_type, b, v,
             CAST((row_number() OVER w - 1) % 24 AS INT) AS phase,
             count(v) OVER wt AS wn,
             sum(v) OVER wt AS ws
           FROM f
           WINDOW w AS (PARTITION BY event_type ORDER BY b),
           wt AS (PARTITION BY event_type ORDER BY b
             ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
         ), t AS (
           SELECT *,
             CASE WHEN wn = 24 THEN ws / 24.0 END AS trend,
             CASE WHEN wn = 24 THEN v * 24 - ws END AS dnum
           FROM o
         ), pa AS (
           SELECT event_type, phase, sum(dnum) AS snum,
             CAST(count(*) AS BIGINT) AS sn
           FROM t WHERE dnum IS NOT NULL GROUP BY event_type, phase
         ), pav AS (
           SELECT event_type, phase, snum / (sn * 24.0) AS sraw FROM pa
         ), ctr AS (
           SELECT event_type, sum(sraw) / count(*) AS center
           FROM pav GROUP BY event_type
         ), seas AS (
           SELECT pav.event_type, pav.phase, sraw - center AS seasonal
           FROM pav JOIN ctr ON ctr.event_type = pav.event_type
         )
         SELECT t.event_type,
           TIMESTAMP '1970-01-01 00:00:00' + b * INTERVAL 1 SECOND
             AS bucket_ts,
           t.phase, round(v / 100.0, 4) AS value,
           round(t.trend / 100.0 + 1e-9, 4) AS trend,
           round(s.seasonal / 100.0 + 1e-9, 4) AS seasonal,
           round((v - t.trend - s.seasonal) / 100.0 + 1e-9, 4) AS residual
         FROM t LEFT JOIN seas s
           ON s.event_type = t.event_type AND s.phase = t.phase
         ORDER BY t.event_type, bucket_ts""",

    "q187_gap_fill" ->
      """WITH cells AS (
           SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS n,
             sum(round(value * 100)) AS v
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, b
         ), spans AS (
           SELECT event_type, min(b) AS lo, max(b) AS hi FROM cells
           GROUP BY event_type
         ), grid AS (
           SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
           FROM spans
         ), j AS (
           SELECT g.event_type, g.b, coalesce(c.n, 0) AS n, c.v
           FROM grid g LEFT JOIN cells c
             ON c.event_type = g.event_type AND c.b = g.b
         ), f AS (
           SELECT event_type, b, n,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
           FROM j
         )
         SELECT event_type,
           TIMESTAMP '1970-01-01 00:00:00' + b * INTERVAL 1 SECOND
             AS bucket_ts,
           n, round(v / 100.0, 4) AS value
         FROM f ORDER BY event_type, bucket_ts""",

    // q189: linear gap interpolation replayed — grid + prev/next
    // ignore-nulls window pairs + the identical interpolation formula.
    "q189_gap_fill_linear" ->
      """WITH cells AS (
           SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS n,
             avg(round(value * 100)) AS v
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, b
         ), spans AS (
           SELECT event_type, min(b) AS lo, max(b) AS hi FROM cells
           GROUP BY event_type
         ), grid AS (
           SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
           FROM spans
         ), j AS (
           SELECT g.event_type, g.b, coalesce(c.n, 0) AS n, c.v
           FROM grid g LEFT JOIN cells c
             ON c.event_type = g.event_type AND c.b = g.b
         ), nb AS (
           SELECT event_type, b, n, v,
             last_value(v IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
               OVER wb AS pb,
             first_value(v IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
               OVER wf AS nb
           FROM j
           WINDOW wb AS (PARTITION BY event_type ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wf AS (PARTITION BY event_type ORDER BY b
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         )
         SELECT event_type,
           TIMESTAMP '1970-01-01 00:00:00' + b * INTERVAL 1 SECOND
             AS bucket_ts,
           n,
           round(coalesce(v, pv + (nv - pv) *
             (CAST(b - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE))) / 100.0
             + 1e-9, 4) AS value
         FROM nb ORDER BY event_type, bucket_ts""",

    // q190: zero-filled grid + trailing-24 leak-free rolling windows —
    // exact sum / sum-of-squares frames over ROWS 24 PRECEDING..
    // 1 PRECEDING (the operator's own formula), z gated on n>=2 and
    // positive variance, all replayed on ×100 integral values.
    "q190_rolling_anomaly" ->
      """WITH cells AS (
           SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS n,
             sum(round(value * 100)) AS v
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, b
         ), spans AS (
           SELECT event_type, min(b) AS lo, max(b) AS hi FROM cells
           GROUP BY event_type
         ), grid AS (
           SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
           FROM spans
         ), j AS (
           SELECT g.event_type, g.b, coalesce(c.n, 0) AS n,
             coalesce(c.v, 0.0) AS v
           FROM grid g LEFT JOIN cells c
             ON c.event_type = g.event_type AND c.b = g.b
         ), r AS (
           SELECT event_type, b, v,
             sum(v) OVER w AS s, sum(v * v) OVER w AS s2,
             CAST(count(v) OVER w AS BIGINT) AS rn
           FROM j
           WINDOW w AS (PARTITION BY event_type ORDER BY b
             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
         ), st AS (
           SELECT event_type, b, v, rn,
             CASE WHEN rn >= 1 THEN s / rn END AS m,
             CASE WHEN rn >= 2 THEN
               sqrt(greatest(s2 - s * s / rn, 0.0) / (rn - 1)) END AS sd
           FROM r
         )
         SELECT event_type,
           TIMESTAMP '1970-01-01 00:00:00' + b * INTERVAL 1 SECOND
             AS bucket_ts,
           round(v / 100.0, 4) AS value, rn AS roll_n,
           round(m / 100.0 + 1e-9, 4) AS roll_mean,
           round(sd / 100.0 + 1e-9, 4) AS roll_std,
           round(CASE WHEN rn >= 2 AND sd > 0 THEN (v - m) / sd END
             + 1e-9, 4) AS z
         FROM st ORDER BY event_type, bucket_ts""",

    // q191: the EWMA recursion replayed exactly — list() collects each
    // row's ordered prefix, list_reduce folds s = 0.25 v + 0.75 s in
    // DOUBLE, the same IEEE sequence the sequential scan runs.
    "q191_ewma" ->
      """WITH cells AS (
           SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             sum(round(value * 100)) AS v
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, b
         ), spans AS (
           SELECT event_type, min(b) AS lo, max(b) AS hi FROM cells
           GROUP BY event_type
         ), grid AS (
           SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
           FROM spans
         ), j AS (
           SELECT g.event_type, g.b, coalesce(c.v, 0.0) AS v
           FROM grid g LEFT JOIN cells c
             ON c.event_type = g.event_type AND c.b = g.b
         )
         SELECT event_type,
           TIMESTAMP '1970-01-01 00:00:00' + b * INTERVAL 1 SECOND
             AS bucket_ts,
           round(v / 100.0, 4) AS value,
           round(list_reduce(
             list(v) OVER (PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             (acc, e) -> CAST(0.25 AS DOUBLE) * e
               + CAST(0.75 AS DOUBLE) * acc) / 100.0 + 1e-9, 4) AS ewma
         FROM j ORDER BY event_type, bucket_ts""",

    // q192: the funnel window chain replayed — per-user conditional
    // mins where each step's window references the previous step's
    // window result; the summary stacks the counts and divides the
    // identical longs.
    "q192_funnel" ->
      """WITH base AS (
           SELECT user_id, event_type AS t, epoch_us(ts) AS us FROM events
           WHERE event_type IN ('view', 'click', 'purchase')
             AND ts IS NOT NULL
         ), s1 AS (
           SELECT *, min(CASE WHEN t = 'view' THEN us END)
             OVER (PARTITION BY user_id) AS t1 FROM base
         ), s2 AS (
           SELECT *, min(CASE WHEN t = 'click' AND us > t1
               AND us <= t1 + 259200000000 THEN us END)
             OVER (PARTITION BY user_id) AS t2 FROM s1
         ), s3 AS (
           SELECT *, min(CASE WHEN t = 'purchase' AND us > t2
               AND us <= t1 + 259200000000 THEN us END)
             OVER (PARTITION BY user_id) AS t3 FROM s2
         ), per AS (
           SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
           FROM s3 GROUP BY user_id
         ), agg AS (
           SELECT CAST(count(t1) AS BIGINT) AS c1,
             CAST(count(t2) AS BIGINT) AS c2,
             CAST(count(t3) AS BIGINT) AS c3 FROM per
         ), r AS (
           SELECT 1 AS step_idx, 'view' AS step, c1 AS users, c1 FROM agg
           UNION ALL SELECT 2, 'click', c2, c1 FROM agg
           UNION ALL SELECT 3, 'purchase', c3, c1 FROM agg
         ), f AS (
           SELECT step_idx, step, users, c1,
             lag(users) OVER (ORDER BY step_idx) AS pu FROM r
         )
         SELECT step_idx, step, users,
           CASE WHEN c1 > 0
             THEN round(CAST(users AS DOUBLE) / c1 + 1e-9, 4) END
             AS conv_overall,
           CASE WHEN pu > 0
             THEN round(CAST(users AS DOUBLE) / pu + 1e-9, 4) END
             AS conv_step
         FROM f ORDER BY step_idx""",

    // q193: daily cohorts — window-min first-day assignment, distinct
    // (user, day) activity, the (cohort, offset) matrix, and the
    // offset-0 size join-back.
    "q193_cohort_retention" ->
      """WITH b AS (
           SELECT user_id,
             CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bk
           FROM events WHERE ts IS NOT NULL
         ), c AS (
           SELECT user_id, bk,
             min(bk) OVER (PARTITION BY user_id) AS ch FROM b
         ), d AS (
           SELECT DISTINCT user_id, ch, bk FROM c
         ), m AS (
           SELECT ch, CAST((bk - ch) // 86400 AS INT) AS o,
             CAST(count(*) AS BIGINT) AS active
           FROM d GROUP BY ch, o
         ), s AS (
           SELECT ch, active AS cohort_size FROM m WHERE o = 0
         )
         SELECT
           TIMESTAMP '1970-01-01 00:00:00' + m.ch * INTERVAL 1 SECOND
             AS cohort_ts,
           m.o AS "offset", m.active, s.cohort_size,
           round(CAST(m.active AS DOUBLE) / s.cohort_size + 1e-9, 4)
             AS retention
         FROM m JOIN s ON s.ch = m.ch
         ORDER BY cohort_ts, "offset"""",

    // q194: the identical lag window (ts, event_id deterministic order)
    // and the row-conditional probability over the aggregated matrix.
    "q194_event_transitions" ->
      """WITH l AS (
           SELECT user_id, event_type AS type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS prev_type
           FROM events WHERE ts IS NOT NULL
         ), m AS (
           SELECT prev_type, type, CAST(count(*) AS BIGINT) AS n FROM l
           WHERE prev_type IS NOT NULL GROUP BY prev_type, type
         )
         SELECT prev_type, type, n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)
             + 1e-9, 4) AS p
         FROM m ORDER BY prev_type, type""",

    // q195: the fixed-point PageRank recursion unrolled — BIGINT floor
    // division makes every mass transfer exact and order-independent,
    // so three CTE rounds replay the distributed iteration rank-for-
    // rank; teleport = (1e9 * 3) // 20, dangling term included (0 on
    // this symmetric graph, replayed for fidelity).
    "q195_pagerank" ->
      """WITH f AS (
           SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem
         ), e AS (
           SELECT src, dst FROM f
           UNION SELECT dst AS src, src AS dst FROM f
         ), nd AS (
           SELECT src AS node FROM e UNION SELECT dst FROM e
         ), deg AS (
           SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
           FROM e GROUP BY src
         ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd
         ), r0 AS (
           SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nd
         ), d1 AS (
           SELECT COALESCE(SUM((r.rank * 17) // 20), 0)
             // (SELECT n FROM nn) AS ds
           FROM r0 r LEFT JOIN deg d ON d.node = r.node
           WHERE d.node IS NULL
         ), i1 AS (
           SELECT e.dst AS node,
             SUM((r.rank * 17) // (20 * d.outdeg)) AS m
           FROM e JOIN r0 r ON r.node = e.src
             JOIN deg d ON d.node = e.src
           GROUP BY e.dst
         ), r1 AS (
           SELECT nd.node,
             COALESCE(i1.m, 0) + 150000000 + (SELECT ds FROM d1) AS rank
           FROM nd LEFT JOIN i1 ON i1.node = nd.node
         ), d2 AS (
           SELECT COALESCE(SUM((r.rank * 17) // 20), 0)
             // (SELECT n FROM nn) AS ds
           FROM r1 r LEFT JOIN deg d ON d.node = r.node
           WHERE d.node IS NULL
         ), i2 AS (
           SELECT e.dst AS node,
             SUM((r.rank * 17) // (20 * d.outdeg)) AS m
           FROM e JOIN r1 r ON r.node = e.src
             JOIN deg d ON d.node = e.src
           GROUP BY e.dst
         ), r2 AS (
           SELECT nd.node,
             COALESCE(i2.m, 0) + 150000000 + (SELECT ds FROM d2) AS rank
           FROM nd LEFT JOIN i2 ON i2.node = nd.node
         ), d3 AS (
           SELECT COALESCE(SUM((r.rank * 17) // 20), 0)
             // (SELECT n FROM nn) AS ds
           FROM r2 r LEFT JOIN deg d ON d.node = r.node
           WHERE d.node IS NULL
         ), i3 AS (
           SELECT e.dst AS node,
             SUM((r.rank * 17) // (20 * d.outdeg)) AS m
           FROM e JOIN r2 r ON r.node = e.src
             JOIN deg d ON d.node = e.src
           GROUP BY e.dst
         ), r3 AS (
           SELECT nd.node,
             COALESCE(i3.m, 0) + 150000000 + (SELECT ds FROM d3) AS rank
           FROM nd LEFT JOIN i3 ON i3.node = nd.node
         )
         SELECT node, CAST(rank AS BIGINT) AS rank,
           CAST(rank AS DOUBLE) /
             CAST((SELECT n FROM nn) * 1000000000 AS DOUBLE) AS score
         FROM r3 ORDER BY node""",

    // q196: the projection replayed — distinct memberships, right-key
    // self-join, pair aggregation, threshold.
    "q196_bipartite_projection" ->
      """WITH m AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         )
         SELECT a.s AS src, b.s AS dst, CAST(count(*) AS BIGINT) AS shared
         FROM m a JOIN m b ON a.p = b.p AND a.s < b.s
         GROUP BY a.s, b.s HAVING count(*) >= 150
         ORDER BY src, dst""",

    // q197: triangles brute-forced as a<b<c closure joins over the
    // normalized edge list; per-node counts stack the three corners;
    // clustering = 2T/(d(d-1)) on the identical integers.
    "q197_triangle_count" ->
      """WITH m AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), pr AS (
           SELECT a.s AS x, b.s AS y FROM m a JOIN m b
             ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 150
         ), deg AS (
           SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
             SELECT x AS node FROM pr UNION ALL SELECT y FROM pr)
           GROUP BY node
         ), t AS (
           SELECT e1.x AS a, e1.y AS b, e2.y AS c
           FROM pr e1 JOIN pr e2 ON e2.x = e1.y
           JOIN pr e3 ON e3.x = e1.x AND e3.y = e2.y
         ), cnt AS (
           SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
             SELECT a AS node FROM t UNION ALL SELECT b FROM t
             UNION ALL SELECT c FROM t)
           GROUP BY node
         )
         SELECT d.node, d.degree,
           COALESCE(cnt.triangles, 0) AS triangles,
           CASE WHEN d.degree >= 2 THEN
             round(2.0 * COALESCE(cnt.triangles, 0) /
               (d.degree * (d.degree - 1)) + 1e-9, 4) END AS clustering
         FROM deg d LEFT JOIN cnt ON cnt.node = d.node
         ORDER BY d.node""",

    // q198: min-reachable-node component labels via a recursive
    // reachability closure (the SQL spec of min-label propagation /
    // driver union-find).
    "q198_graph_components" ->
      """WITH RECURSIVE m AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), pr AS (
           SELECT a.s AS x, b.s AS y FROM m a JOIN m b
             ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 160
         ), e AS (
           SELECT x AS src, y AS dst FROM pr UNION SELECT y, x FROM pr
         ), nodes AS (
           SELECT DISTINCT src AS node FROM e
         ), r AS (
           SELECT node, node AS reach FROM nodes
           UNION
           SELECT r.node, e.dst FROM r JOIN e ON e.src = r.reach
         )
         SELECT node, min(reach) AS component FROM r GROUP BY node
         ORDER BY node""",

    // q199: the weighted fixed-point recursion unrolled — transfers
    // (rank·17·w) // (20·outWeight), exact BIGINT, rank-for-rank.
    "q199_weighted_pagerank" ->
      """WITH m AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), pr AS (
           SELECT a.s AS x, b.s AS y, CAST(count(*) AS BIGINT) AS w
           FROM m a JOIN m b ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 150
         ), e AS (
           SELECT x AS src, y AS dst, w FROM pr
           UNION ALL SELECT y, x, w FROM pr
         ), nd AS (
           SELECT DISTINCT src AS node FROM e
         ), deg AS (
           SELECT src AS node, SUM(w) AS outw FROM e GROUP BY src
         ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd
         ), r0 AS (
           SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nd
         ), d1 AS (
           SELECT COALESCE(SUM((r.rank * 17) // 20), 0)
             // (SELECT n FROM nn) AS ds
           FROM r0 r LEFT JOIN deg d ON d.node = r.node
           WHERE d.node IS NULL
         ), i1 AS (
           SELECT e.dst AS node,
             SUM((r.rank * 17 * e.w) // (20 * d.outw)) AS im
           FROM e JOIN r0 r ON r.node = e.src
             JOIN deg d ON d.node = e.src
           GROUP BY e.dst
         ), r1 AS (
           SELECT nd.node,
             COALESCE(i1.im, 0) + 150000000 + (SELECT ds FROM d1) AS rank
           FROM nd LEFT JOIN i1 ON i1.node = nd.node
         ), d2 AS (
           SELECT COALESCE(SUM((r.rank * 17) // 20), 0)
             // (SELECT n FROM nn) AS ds
           FROM r1 r LEFT JOIN deg d ON d.node = r.node
           WHERE d.node IS NULL
         ), i2 AS (
           SELECT e.dst AS node,
             SUM((r.rank * 17 * e.w) // (20 * d.outw)) AS im
           FROM e JOIN r1 r ON r.node = e.src
             JOIN deg d ON d.node = e.src
           GROUP BY e.dst
         ), r2 AS (
           SELECT nd.node,
             COALESCE(i2.im, 0) + 150000000 + (SELECT ds FROM d2) AS rank
           FROM nd LEFT JOIN i2 ON i2.node = nd.node
         ), d3 AS (
           SELECT COALESCE(SUM((r.rank * 17) // 20), 0)
             // (SELECT n FROM nn) AS ds
           FROM r2 r LEFT JOIN deg d ON d.node = r.node
           WHERE d.node IS NULL
         ), i3 AS (
           SELECT e.dst AS node,
             SUM((r.rank * 17 * e.w) // (20 * d.outw)) AS im
           FROM e JOIN r2 r ON r.node = e.src
             JOIN deg d ON d.node = e.src
           GROUP BY e.dst
         ), r3 AS (
           SELECT nd.node,
             COALESCE(i3.im, 0) + 150000000 + (SELECT ds FROM d3) AS rank
           FROM nd LEFT JOIN i3 ON i3.node = nd.node
         )
         SELECT node, CAST(rank AS BIGINT) AS rank,
           CAST(rank AS DOUBLE) /
             CAST((SELECT n FROM nn) * 1000000000 AS DOUBLE) AS score
         FROM r3 ORDER BY node""",

    // q200: per-entity ordered prefix paths via ordered string_agg,
    // heaviest-first with path tiebreak.
    "q200_top_paths" ->
      """WITH o AS (
           SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS rn
           FROM events WHERE ts IS NOT NULL
         ), p AS (
           SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
           FROM o WHERE rn <= 2 GROUP BY user_id
         ), c AS (
           SELECT path, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY path
         )
         SELECT path, n FROM c ORDER BY n DESC, path LIMIT 10""",

    // q201: gap-split sessionization replayed — the same lag window,
    // break flag, 0-based running-sum session index, and per-session
    // aggregates.
    "q201_session_stats" ->
      """WITH o AS (
           SELECT user_id, event_id, ts, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS pus
           FROM events WHERE ts IS NOT NULL
         ), f AS (
           SELECT *, CASE WHEN pus IS NULL OR us - pus > 21600000000
             THEN 1 ELSE 0 END AS brk FROM o
         ), s AS (
           SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
             ORDER BY us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             - 1 AS session_idx
           FROM f
         )
         SELECT user_id, session_idx, min(ts) AS start_ts,
           max(ts) AS end_ts, CAST(count(*) AS BIGINT) AS n_events,
           (max(us) - min(us)) // 1000000 AS duration_sec
         FROM s GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx""",

    // q202: k-core peeling unrolled to 8 rounds (idempotent once the
    // peel stabilizes — round 3 at sf0.01); the SQL is the semantic
    // spec, the operator's semi-join loop is the scale path.
    "q202_kcore" -> kCoreOracleSql(k = 6L, rounds = 8),
    "q232_louvain" -> louvainOracleSql(passes = 4),

    // q318: full two-level Louvain — generated unroll of both levels'
    // weighted passes, exact numerators, acceptance CASE (see
    // louvainFullOracleSql).
    "q318_louvain_full" -> louvainFullOracleSql(passes = 2),

    // q328: the warm-start continuation — 2 cold passes + a seeded
    // 1-pass run at firstPass = 3 ≡ an uninterrupted 3-pass run, so the
    // oracle is simply the 3-pass unroll (parities 1, 0, 1 on both
    // paths).
    "q328_louvain_warm" -> louvainOracleSql(passes = 3),

    // q329: full DDSketch replay — same baked-in ln γ literal, same
    // bucket map, same cumulative pick, same double rank arithmetic —
    // plus the exact rank values and the α bound check.
    "q329_dd_quantiles" -> ddQuantileOracleSql(alpha = 0.01,
      qs = Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99)),

    // q330: the stream-maintained IVF index replayed in full — coarse
    // cell assignment (q317's data-read centroids, argmax 2x·c − |c|²,
    // ties → smaller cell) joined with the per-subspace PQ code argmin
    // (q184's quarter-rational codebook, argmax 2d − |c|²) — proving
    // the micro-batch-built index is bit-identical to a batch encode.
    "q330_stream_ivf_index" ->
      """WITH coarse AS (
           SELECT CAST(vec_id // 6 AS INTEGER) AS cell, embedding
           FROM embeddings WHERE vec_id % 6 = 1 AND vec_id < 48
         ), scx AS (
           SELECT e.vec_id, c.cell,
             2 * list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[]))
               - list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[])) AS sc
           FROM embeddings e, coarse c
         ), assign AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY sc DESC, cell) AS rn FROM scx) WHERE rn = 1
         ), cb AS (
           SELECT ss.s AS s, cc.cell AS cell, ii.i AS i,
             CAST(((ss.s * 31 + cc.cell * 7 + ii.i * 3) % 11 - 5) / 4.0
                  AS DOUBLE) AS cv
           FROM (SELECT unnest(range(0, 8)) AS s) ss,
                (SELECT unnest(range(0, 16)) AS cell) cc,
                (SELECT unnest(range(0, 8)) AS i) ii
         ), sc2 AS (
           SELECT e.vec_id, cb.s, cb.cell,
             sum(CAST(e.embedding[cb.s * 8 + cb.i + 1] AS DOUBLE) * cb.cv) AS d,
             sum(cb.cv * cb.cv) AS cc2
           FROM embeddings e, cb
           GROUP BY e.vec_id, cb.s, cb.cell
         ), codes AS (
           SELECT vec_id, s, cell AS code FROM (
             SELECT vec_id, s, cell,
               row_number() OVER (PARTITION BY vec_id, s
                 ORDER BY 2 * d - cc2 DESC, cell) AS rn
             FROM sc2) WHERE rn = 1
         )
         SELECT a.vec_id, a.cell, CAST(c.s AS INTEGER) AS s,
           CAST(c.code AS INTEGER) AS code
         FROM assign a JOIN codes c USING (vec_id)
         ORDER BY vec_id, s""",

    // q320: star-contraction components on the interleaved chains have
    // a CLOSED FORM — every node's component is its residue class
    // minimum; no round replay needed, the exact labeling IS the check.
    // QUALIFY encodes the operator's node contract (ADVICE r10): only
    // nodes with >= 1 edge appear, so a residue class with a single
    // orderkey (possible under fixture changes, not at these SFs)
    // contributes no chain edge and must not appear in the oracle.
    "q320_cc_star" ->
      """SELECT o_orderkey AS node,
           min(o_orderkey) OVER (PARTITION BY o_orderkey % 8) AS component
         FROM orders
         QUALIFY count(*) OVER (PARTITION BY o_orderkey % 8) >= 2
         ORDER BY node""",

    // q331: same closed form as q320 — the fallback must label the
    // chains exactly even though it engaged only after the min-label
    // budget ran out.
    "q331_cc_fallback" ->
      """SELECT o_orderkey AS node,
           min(o_orderkey) OVER (PARTITION BY o_orderkey % 8) AS component
         FROM orders
         QUALIFY count(*) OVER (PARTITION BY o_orderkey % 8) >= 2
         ORDER BY node""",

    // q391: same closed form again — warm-starting from the half-
    // snapshot labels must not change the answer, only the rounds.
    "q391_cc_warmstart" ->
      """SELECT o_orderkey AS node,
           min(o_orderkey) OVER (PARTITION BY o_orderkey % 8) AS component
         FROM orders
         QUALIFY count(*) OVER (PARTITION BY o_orderkey % 8) >= 2
         ORDER BY node""",

    // q332/q333: the winnowing selection and its capped pair join —
    // every step integer-exact (md5-prefix hashes, combined-key window
    // minima), so both oracles are full replays.
    "q332_winnow_fingerprints" -> (winnowSelCtes(16, 8,
      " WHERE doc_id < 40") +
      """
         SELECT doc_id, CAST(cmin % 131072 AS BIGINT) AS pos,
           CAST(cmin // 131072 AS BIGINT) AS fp
         FROM sel ORDER BY doc_id, pos, fp"""),
    "q333_winnow_pairs" -> (winnowSelCtes(16, 8, "") +
      """, fp AS (
           SELECT DISTINCT doc_id, cmin // 131072 AS fp FROM sel
         ), keptfp AS (
           SELECT fp FROM fp GROUP BY fp
           HAVING count(*) >= 2 AND count(*) <= 25
         ), fpc AS (SELECT f.* FROM fp f JOIN keptfp USING (fp))
         SELECT a.doc_id AS idA, b.doc_id AS idB,
           CAST(count(*) AS BIGINT) AS n_shared
         FROM fpc a JOIN fpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 3
         ORDER BY idA, idB"""),

    // q334: the streaming windowed percentile monitor — exact-integer
    // bucket counts make the drained histogram bit-equal to batch
    // bucketing, so the oracle is the q329 replay per hourly window.
    "q334_stream_quantiles" -> ddStreamQuantileOracleSql(alpha = 0.01,
      qs = Seq(0.5, 0.95)),

    // q387: the gate merges DRAINED per-window sketches; the oracle
    // sketches all events in one pass — equality IS the merge law.
    "q387_stream_dd_merge" -> ddStreamQuantileOracleSql(alpha = 0.01,
      qs = Seq(0.5, 0.95), windowed = false),

    // q389: same one-pass oracle — the gate's per-shard histograms take
    // a parquet round trip before the cross-shard merge, so equality
    // proves the persisted integer bucket state is bit-lossless.
    "q389_dd_roundtrip" -> ddStreamQuantileOracleSql(alpha = 0.01,
      qs = Seq(0.5, 0.95), windowed = false),

    // q390: exact distinct replay; the equality booleans are computed
    // IN the gate (persisted-path estimate vs never-persisted vs exact)
    // and must come out true — binary HLL state survives parquet.
    "q390_hll_roundtrip" ->
      """SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           true AS bit_equal, true AS within_5pct
         FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",

    // q335: brute-force token-set Jaccard over all pairs — the
    // prefix-filtered operator must reproduce it EXACTLY (lossless
    // pruning is the whole claim).
    "q335_jaccard_join" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(list_filter(
             string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
             t -> t <> ''))) AS tok
           FROM documents
         ), sz AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
           FROM toks GROUP BY doc_id
         ), i AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB,
             CAST(count(*) AS BIGINT) AS i
           FROM toks a JOIN toks b
             ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2
         )
         SELECT idA, idB,
           round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
         FROM i
         JOIN sz sa ON sa.doc_id = idA
         JOIN sz sb ON sb.doc_id = idB
         WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.9
         ORDER BY idA, idB""",

    // q336: scd2's lead() window + the validity-range join, replayed.
    "q336_point_in_time" ->
      """WITH log AS (
           SELECT o_custkey AS k, o_orderdate AS ts,
             max(o_orderstatus) AS status
           FROM orders GROUP BY 1, 2
         ), dim AS (
           SELECT k, status, ts AS vf,
             lead(ts) OVER (PARTITION BY k ORDER BY ts) AS vt
           FROM log
         )
         SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           d.status AS status_at
         FROM orders o
         LEFT JOIN dim d ON d.k = o.o_custkey
           AND o.o_orderdate >= d.vf
           AND (d.vt IS NULL OR o.o_orderdate < d.vt)
         ORDER BY o_orderkey""",

    // q337: brute-force all-pairs levenshtein over the first-letter
    // signatures — the prefix-filtered operator must reproduce it
    // EXACTLY (lossless pruning is the whole claim). The len >= 18
    // filter is the operator's documented q·(maxDist+1) contract.
    "q337_edit_join" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
             t -> t <> '') AS t
           FROM documents
         ), d AS (
           SELECT doc_id,
             array_to_string(list_transform(t[1:64], x -> x[1:1]), '') AS s
           FROM toks
         ), f AS (
           SELECT doc_id, s FROM d WHERE len(s) >= 18
         )
         SELECT a.doc_id AS idA, b.doc_id AS idB,
           CAST(levenshtein(a.s, b.s) AS INT) AS dist
         FROM f a JOIN f b
           ON a.doc_id < b.doc_id AND abs(len(a.s) - len(b.s)) <= 8
         WHERE levenshtein(a.s, b.s) <= 8
         ORDER BY idA, idB""",

    // q338: the G² arithmetic replayed with the operator's exact
    // cast/multiply order — e = (CAST(c)·CAST(a+b))/CAST(c+d), term =
    // CAST(a)·ln(CAST(a)/e), zero counts contribute 0.
    "q338_keyness" ->
      """WITH toks AS (
           SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS f,
             unnest(list_filter(
               string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
               t -> t <> '')) AS token
           FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
         ), c AS (
           SELECT token, CAST(sum(f) AS BIGINT) AS n_focus,
             CAST(sum(1 - f) AS BIGINT) AS n_ref
           FROM toks GROUP BY 1
         ), t AS (
           SELECT CAST(sum(n_focus) AS BIGINT) AS c,
             CAST(sum(n_ref) AS BIGINT) AS d
           FROM c
         )
         SELECT token, n_focus, n_ref,
           round(2.0 * (
             (CASE WHEN n_focus = 0 THEN 0.0 ELSE
               CAST(n_focus AS DOUBLE) * ln(CAST(n_focus AS DOUBLE) /
                 (CAST(t.c AS DOUBLE) * CAST(n_focus + n_ref AS DOUBLE) /
                  CAST(t.c + t.d AS DOUBLE))) END) +
             (CASE WHEN n_ref = 0 THEN 0.0 ELSE
               CAST(n_ref AS DOUBLE) * ln(CAST(n_ref AS DOUBLE) /
                 (CAST(t.d AS DOUBLE) * CAST(n_focus + n_ref AS DOUBLE) /
                  CAST(t.c + t.d AS DOUBLE))) END)) + 1e-9, 4) AS g2,
           CASE WHEN CAST(n_focus AS DOUBLE) * CAST(t.d AS DOUBLE) >
             CAST(n_ref AS DOUBLE) * CAST(t.c AS DOUBLE)
             THEN 1 ELSE -1 END AS direction
         FROM c, t
         WHERE n_focus + n_ref >= 5
         ORDER BY token""",

    // q339: the Apriori 2-itemset pass replayed — distinct
    // (basket, item), pair counts by self-join, lift with the same
    // cast order.
    "q339_frequent_pairs" ->
      """WITH it AS (
           SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
         ), sup AS (
           SELECT i, CAST(count(*) AS BIGINT) AS s FROM it GROUP BY 1
         ), n AS (
           SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM it
         ), p AS (
           SELECT a.i AS item_a, b.i AS item_b,
             CAST(count(*) AS BIGINT) AS n_pairs
           FROM it a JOIN it b ON a.b = b.b AND a.i < b.i
           GROUP BY 1, 2
         )
         SELECT item_a, item_b, n_pairs,
           round(CAST(n_pairs AS DOUBLE) * CAST(n.n AS DOUBLE) /
             (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)) + 1e-9, 6)
             AS lift
         FROM p
         JOIN sup sa ON sa.i = item_a
         JOIN sup sb ON sb.i = item_b
         CROSS JOIN n
         WHERE n_pairs >= 3
         ORDER BY item_a, item_b""",

    // q340/q341: generated unrolled BPE replay (see bpeOracleCtes) —
    // merge table and per-document token counts under the learned
    // tokenizer.
    "q340_bpe_merges" -> bpeMergesOracleSql(BpeGateMerges),
    "q341_bpe_token_counts" -> bpeTokenCountsOracleSql(BpeGateMerges),

    // q397: the join-free direct path must produce IDENTICAL counts —
    // same oracle as q341 deliberately.
    "q397_bpe_token_counts_direct" ->
      bpeTokenCountsOracleSql(BpeGateMerges),

    // q398: the streaming windowed token counter — same unrolled-merge
    // CTEs as q341/q397, re-grouped by the synthetic event-time hour
    // window (ts = epoch 1704067200 + doc_id minutes; 1-hour tumbling
    // windows are epoch-aligned, so window_start is pure integer
    // arithmetic on doc_id).
    "q398_stream_token_counts" ->
      (bpeOracleCtes(BpeGateMerges) + s"""
         SELECT CAST(1704067200 + CAST(floor(t.doc_id / 60.0) AS BIGINT)
             * 3600 AS BIGINT) AS window_start,
           CAST(sum(len(w.syms)) AS BIGINT) AS n_tokens
         FROM toks t JOIN w${BpeGateMerges} w USING (word)
         GROUP BY 1 ORDER BY window_start"""),

    // q399: the persisted-index incremental pair set must equal the
    // one-shot brute-force cross-Jaccard of the grown corpus — q34's
    // oracle verbatim (the storage round trip and the yesterday∪today
    // union happen on the Spark side; the oracle only knows the law's
    // right-hand side).
    "q399_dedup_index_incremental" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents
         ), sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(ts)-1),
               i -> ts[i] || chr(1) || ts[i+1] || chr(1) || ts[i+2])) AS shingles
           FROM toks WHERE len(ts) >= 3
         ), pairs AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         )
         SELECT idA, idB, round(j, 6) AS jaccard FROM pairs
         WHERE j >= 0.5 ORDER BY idA, idB""",

    // q400: the q399 persisted-index law on the vector side — oracle =
    // q37's portable-signature replay + brute-force cosine verbatim
    // (the storage round trip and the yesterday∪today union are
    // Spark-side; the oracle only knows the law's right-hand side).
    "q400_embedding_index_incremental" -> (portableSigCtes +
      """, cand AS (
           SELECT DISTINCT a.vec_id AS idA, b.vec_id AS idB
           FROM sh a, sh b, (SELECT unnest(range(0, 6)) AS b) bb
           WHERE a.vec_id < b.vec_id
             AND ((a.sh >> (bb.b * 10)) & 1023) = ((b.sh >> (bb.b * 10)) & 1023)
         ), cos AS (
           SELECT p.idA, p.idB,
             list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                    CAST(eb.embedding AS DOUBLE[])) AS c
           FROM cand p
           JOIN embeddings ea ON ea.vec_id = p.idA
           JOIN embeddings eb ON eb.vec_id = p.idB
         )
         SELECT idA, idB, round(c, 6) AS cosine FROM cos
         WHERE c >= 0.25 ORDER BY idA, idB"""),

    "q344_bpe_apply" -> bpeApplyOracleSql(BpeGateMerges),
    // q401: greedy longest-match under the corpus vocabulary, unrolled
    // (20 steps covers any word to 20 chars; the corpus tops out at 8).
    "q401_vocab_segment" -> vocabSegmentOracleSql(BpeGateMerges, 20),
    // q402: both applies joined on the shared word table — totals and
    // the agreement share, all occurrence-exact.
    "q402_apply_compare" -> applyCompareOracleSql(BpeGateMerges, 20),

    // q403: the chained epoch law's right-hand side — brute-force
    // cross-Jaccard pairs of the FULL corpus (q34's oracle) driven
    // through min-label connected components via recursive
    // reachability (reachable sets are tiny: near-dup cliques). The
    // two-epoch parquet round trip and the warm-started clustering
    // are Spark-side; the oracle only knows the one-shot answer.
    "q403_dedup_epoch" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents
         ), sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(ts)-1),
               i -> ts[i] || chr(1) || ts[i+1] || chr(1) || ts[i+2])) AS shingles
           FROM toks WHERE len(ts) >= 3
         ), p AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5
         ), e AS (
           SELECT idA AS s, idB AS d FROM p
           UNION SELECT idB, idA FROM p
         ), r AS (
           SELECT s AS n, d AS m FROM e
           UNION
           SELECT r.n, e.d FROM r JOIN e ON e.s = r.m
         )
         SELECT n AS id, least(n, min(m)) AS cluster
         FROM r GROUP BY n ORDER BY id""",

    // q408: the streaming epoch loop answers to the SAME one-shot
    // truth as q403 — brute-force cross-Jaccard + recursive-CC of the
    // full corpus; the micro-batching and the epoch=<batchId> state
    // forwarding are Spark-side mechanics the law is blind to.
    "q408_stream_epoch" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents
         ), sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(ts)-1),
               i -> ts[i] || chr(1) || ts[i+1] || chr(1) || ts[i+2])) AS shingles
           FROM toks WHERE len(ts) >= 3
         ), p AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5
         ), e AS (
           SELECT idA AS s, idB AS d FROM p
           UNION SELECT idB, idA FROM p
         ), r AS (
           SELECT s AS n, d AS m FROM e
           UNION
           SELECT r.n, e.d FROM r JOIN e ON e.s = r.m
         )
         SELECT n AS id, least(n, min(m)) AS cluster
         FROM r GROUP BY n ORDER BY id""",

    // q406: the chained epoch law's right-hand side on vectors — the
    // q400 signature replay + band-collision candidates + brute
    // cosine, driven through the same recursive-reachability CC as
    // q403 (WITH RECURSIVE spliced onto the shared signature CTEs).
    "q406_embedding_epoch" ->
      (portableSigCtes.replaceFirst("WITH", "WITH RECURSIVE") +
        """, cand AS (
           SELECT DISTINCT a.vec_id AS idA, b.vec_id AS idB
           FROM sh a, sh b, (SELECT unnest(range(0, 6)) AS b) bb
           WHERE a.vec_id < b.vec_id
             AND ((a.sh >> (bb.b * 10)) & 1023) = ((b.sh >> (bb.b * 10)) & 1023)
         ), p AS (
           SELECT c.idA, c.idB
           FROM cand c
           JOIN embeddings ea ON ea.vec_id = c.idA
           JOIN embeddings eb ON eb.vec_id = c.idB
           WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])) >= 0.25
         ), e AS (
           SELECT idA AS s, idB AS d FROM p
           UNION SELECT idB, idA FROM p
         ), r AS (
           SELECT s AS n, d AS m FROM e
           UNION
           SELECT r.n, e.d FROM r JOIN e ON e.s = r.m
         )
         SELECT n AS id, least(n, min(m)) AS cluster
         FROM r GROUP BY n ORDER BY id"""),

    // q407: every count recomputed from scratch — the pair ledger and
    // labels from the FULL corpus's brute pairs + CC, the new-pair/
    // new-label deltas and the retraction count against the PREFIX
    // corpus (< 334) replayed with a second recursive CC.
    "q407_epoch_report" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents
         ), sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(ts)-1),
               i -> ts[i] || chr(1) || ts[i+1] || chr(1) || ts[i+2])) AS shingles
           FROM toks WHERE len(ts) >= 3
         ), p AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5
         ), e AS (
           SELECT idA AS s, idB AS d FROM p
           UNION SELECT idB, idA FROM p
         ), r AS (
           SELECT s AS n, d AS m FROM e
           UNION
           SELECT r.n, e.d FROM r JOIN e ON e.s = r.m
         ), lab AS (
           SELECT n AS id, least(n, min(m)) AS cluster FROM r GROUP BY n
         ), pp AS (
           SELECT idA, idB FROM p WHERE idA < 334 AND idB < 334
         ), ep AS (
           SELECT idA AS s, idB AS d FROM pp
           UNION SELECT idB, idA FROM pp
         ), rp AS (
           SELECT s AS n, d AS m FROM ep
           UNION
           SELECT rp.n, ep.d FROM rp JOIN ep ON ep.s = rp.m
         ), labp AS (
           SELECT n AS id, least(n, min(m)) AS cluster FROM rp GROUP BY n
         )
         SELECT
           (SELECT count(*) FROM sh) AS n_index,
           (SELECT count(*) FROM p) AS n_pairs,
           (SELECT count(*) FROM p WHERE idA >= 334 OR idB >= 334)
             AS n_new_pairs,
           (SELECT count(*) FROM lab) AS n_labels,
           (SELECT count(*) FROM lab) - (SELECT count(*) FROM labp)
             AS n_new_labels,
           (SELECT count(*) FROM documents d WHERE d.doc_id >= 334
              AND NOT EXISTS (SELECT 1 FROM lab l
                WHERE l.id = d.doc_id AND l.cluster <> d.doc_id))
             AS n_kept,
           (SELECT count(*) FROM lab l WHERE l.cluster <> l.id
              AND l.id < 334
              AND NOT EXISTS (SELECT 1 FROM labp lp
                WHERE lp.id = l.id AND lp.cluster <> lp.id))
             AS n_retractions""",

    // q404: the q401 greedy CTEs with the continuation marking applied
    // to the finished segmentation — valid because the marked
    // vocabulary carries BOTH forms of every token, so the marked
    // greedy matches the same pieces at every position (the
    // asymmetric-vocab case is BpeSpec's property law). round_trip is
    // an honest detok replay: strip the ' ##' joints out of the
    // marked segmentation and compare with the word.
    "q404_vocab_segment_marked" ->
      (bpeOracleCtes(BpeGateMerges) + vocabGreedyCtes(BpeGateMerges, 20) +
        s"""
         SELECT word, freq,
           CAST(CASE WHEN failed THEN 1 ELSE np END AS INTEGER)
             AS n_pieces,
           CASE WHEN failed THEN '<unk>'
                ELSE replace(seg, ' ', ' ##') END AS segmentation,
           CASE WHEN failed THEN NULL
                ELSE (replace(replace(seg, ' ', ' ##'), ' ##', '') = word)
           END AS round_trip
         FROM s20 ORDER BY word"""),

    // q405: the q398 window regroup over the GREEDY segmentation's
    // piece counts (s20 = the unrolled longest-match steps) instead of
    // the merge-fold's token counts.
    "q405_stream_vocab_counts" ->
      (bpeOracleCtes(BpeGateMerges) + vocabGreedyCtes(BpeGateMerges, 20) +
        s"""
         SELECT CAST(1704067200 + CAST(floor(t.doc_id / 60.0) AS BIGINT)
             * 3600 AS BIGINT) AS window_start,
           CAST(sum(CASE WHEN s.failed THEN 1 ELSE s.np END) AS BIGINT)
             AS n_pieces
         FROM toks t JOIN s20 s USING (word)
         GROUP BY 1 ORDER BY window_start"""),
    "q345_kn_lm" -> knOracleSql(""),
    "q346_kn_lm_split" -> knOracleSql("WHERE source = 'src0'"),

    // q351: the exact inverse-CDF Laplace shape — u from the 53-bit
    // dyadic with +0.5 centering, (-1/ε)·sign·ln(1−2|u−½|).
    "q351_dp_counts" ->
      """WITH c AS (
           SELECT source, lang, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY 1, 2
         ), h AS (
           SELECT source, lang, n,
             (CAST((CAST(('0x' || substring(md5('r11§' ||
               coalesce(CAST(source AS VARCHAR), '<null>') || '§' ||
               coalesce(CAST(lang AS VARCHAR), '<null>')), 1, 15))
               AS BIGINT) >> 7) AS DOUBLE) + 0.5) / 9007199254740992.0
               AS u
           FROM c
         )
         SELECT source, lang,
           round(CAST(n AS DOUBLE) +
             (-1.0 / 1.0) * CAST(sign(u - 0.5) AS DOUBLE) *
             ln(1.0 - 2.0 * abs(u - 0.5)) + 1e-9, 6) AS noisy_n
         FROM h ORDER BY source, lang""",

    // q352: the coincidence-matrix identities replayed — A_o per-cell
    // double terms (χ²-tier, rounded at 6 with the tie shift), A_e
    // from exact integer marginals.
    "q352_krippendorff" ->
      """WITH cells AS (
           SELECT l_orderkey AS u, CAST(l_returnflag AS VARCHAR) AS v,
             CAST(count(*) AS BIGINT) AS n
           FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL
           GROUP BY 1, 2
         ), mu AS (
           SELECT u, CAST(sum(n) AS BIGINT) AS m FROM cells
           GROUP BY 1 HAVING sum(n) >= 2
         ), pc AS (SELECT c.u, c.v, c.n, mu.m FROM cells c JOIN mu USING (u)),
         ao AS (
           SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_units,
             CAST(coalesce(sum(n), 0) AS BIGINT) AS n_ratings,
             coalesce(sum(CAST(n AS DOUBLE) * (n - 1) /
               CAST(m - 1 AS DOUBLE)), 0.0) AS aon
           FROM pc
         ), cat AS (
           SELECT CAST(count(*) AS BIGINT) AS k_categories,
             coalesce(sum(CAST(nc AS DOUBLE) * (nc - 1)), 0.0) AS se
           FROM (SELECT v, CAST(sum(n) AS BIGINT) AS nc FROM pc GROUP BY 1)
         )
         SELECT n_units, n_ratings, k_categories,
           round(a_obs + 1e-9, 6) AS a_obs,
           round(a_exp + 1e-9, 6) AS a_exp,
           round(CASE WHEN a_exp < 1.0
             THEN (a_obs - a_exp) / (1.0 - a_exp) END + 1e-9, 6) AS alpha
         FROM (
           SELECT n_units, n_ratings, k_categories,
             CASE WHEN n_ratings > 0
               THEN aon / CAST(n_ratings AS DOUBLE) END AS a_obs,
             CASE WHEN n_ratings >= 2
               THEN se / (CAST(n_ratings AS DOUBLE) *
                 CAST(n_ratings - 1 AS DOUBLE)) END AS a_exp
           FROM ao, cat)""",

    "q349_cdc_chunks" -> (cdcOracleCtes("text") + """
         SELECT doc_id, chunk_idx, "start", chunk_len, chunk_md5
         FROM ch ORDER BY doc_id, chunk_idx"""),

    // q359: the greedy selection replayed with unrolled rounds — see
    // kCenterOracleSql.
    "q359_kcenter" -> kCenterOracleSql(k = 8, dim = 64),

    // q368: the one-pass bootstrap replayed draw-for-draw.
    "q368_poisson_bootstrap" -> poissonBootstrapOracleSql(
      nBoot = 40, alpha = 0.1, salt = "r11"),

    // q385: exact score-grid cells; the s²n moment is
    // double-from-first on both sides.
    "q385_cochran_armitage" ->
      """WITH g AS (
           SELECT CAST(round(CAST(l_quantity AS DOUBLE) * 1.0)
               AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN CAST(l_extendedprice AS DOUBLE)
               >= 30000.0 THEN 1 ELSE 0 END) AS BIGINT) AS r
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
           GROUP BY 1
         ), a AS (
           SELECT CAST(count(*) AS BIGINT) AS k_levels,
             CAST(sum(n) AS BIGINT) AS n, CAST(sum(r) AS BIGINT) AS n_pos,
             CAST(sum(s * r) AS BIGINT) AS aa,
             CAST(sum(s * n) AS BIGINT) AS bb,
             sum(CAST(s AS DOUBLE) * s * n) AS cc
           FROM g
         ), f AS (
           SELECT k_levels, n, n_pos,
             CAST(aa AS DOUBLE) -
               (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) *
               CAST(bb AS DOUBLE) AS t,
             ((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) *
               (1.0 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))) *
               (cc - (CAST(bb AS DOUBLE) * CAST(bb AS DOUBLE)) /
                 CAST(n AS DOUBLE)) AS v
           FROM a
         )
         SELECT k_levels, n, n_pos,
           round(t / 1.0 + 1e-9, 6) AS t,
           round(CASE WHEN v > 0 THEN t / sqrt(v) END + 1e-9, 6) AS z
         FROM f""",

    // q386: the lag-window run count and the exact-count normal form.
    "q386_runs_test" ->
      """WITH b AS (
           SELECT CAST(l_discount AS DOUBLE) >= 0.05 AS x,
             l_orderkey, l_linenumber, l_discount
           FROM lineitem WHERE l_discount IS NOT NULL
         ), m AS (
           SELECT x,
             CASE WHEN lag(x) OVER (ORDER BY l_orderkey, l_linenumber,
                 l_discount) IS NULL THEN 1
               WHEN lag(x) OVER (ORDER BY l_orderkey, l_linenumber,
                 l_discount) <> x THEN 1 ELSE 0 END AS chg
           FROM b
         ), a AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN x THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
             CAST(sum(chg) AS BIGINT) AS n_runs
           FROM m
         ), f AS (
           SELECT n, n_true, n_runs,
             2.0 * CAST(n_true AS DOUBLE) *
               (CAST(n AS DOUBLE) - CAST(n_true AS DOUBLE)) AS two,
             CAST(n AS DOUBLE) AS nd
           FROM a
         )
         SELECT n, n_true, n_runs,
           round(CASE WHEN n_true >= 2 AND n - n_true >= 2 AND
               (two * (two - nd)) / ((nd * nd) * (nd - 1.0)) > 0 THEN
             (CAST(n_runs AS DOUBLE) - (1.0 + two / nd)) /
               sqrt((two * (two - nd)) / ((nd * nd) * (nd - 1.0)))
             END + 1e-9, 6) AS z
         FROM f""",

    // q384: the Wilson closed form mirrored op-for-op (z and z² as
    // the same driver-computed literals).
    "q384_wilson_ci" -> wilsonOracleSql,

    // q381: the band-overlap arithmetic on the cent grid.
    "q381_trimmed_mean" ->
      """WITH grid AS (
           SELECT CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0)
             AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS t
           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
         ), cum AS (
           SELECT v, t,
             sum(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             sum(t) OVER () AS n
           FROM grid
         ), k AS (
           SELECT v, t, c, n,
             CAST(floor(0.1 * CAST(n AS DOUBLE)) AS BIGINT) AS g
           FROM cum
         ), o AS (
           SELECT n, v,
             greatest(0, least(c, n - g) - greatest(c - t, g)) AS kept
           FROM k
         )
         SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           round(CASE WHEN sum(kept) > 0 THEN
             (CAST(sum(kept * v) AS DOUBLE) /
              CAST(CAST(sum(kept) AS BIGINT) AS DOUBLE)) / 100.0
             END + 1e-9, 6) AS trimmed_mean
         FROM o""",

    // q382: pairing + all four RBF kernels replayed — see
    // mmdOracleSql.
    "q382_mmd" -> mmdOracleSql(gamma = 0.02, nBuckets = 8,
      salt = "r11", dim = 64),

    // q383: the q81 device per the streaming build — exact distincts,
    // bound asserted gate-side.
    "q383_stream_hll" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
         true AS within_5pct
         FROM events GROUP BY event_type ORDER BY event_type""",

    // q380: the q366 grid-rank pick PER FLAG, left-joined onto test.
    "q380_conformal_by" ->
      """WITH cal AS (
           SELECT l_returnflag AS f,
             abs(CAST(l_extendedprice AS DOUBLE) -
               CAST(l_quantity AS DOUBLE) * 960.0) AS r
           FROM lineitem WHERE l_orderkey % 2 = 1
             AND l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
             AND l_returnflag IS NOT NULL
         ), grid AS (
           SELECT f, r, CAST(count(*) AS BIGINT) AS t FROM cal
           GROUP BY 1, 2
         ), cum AS (
           SELECT f, r, t,
             sum(t) OVER (PARTITION BY f ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             sum(t) OVER (PARTITION BY f) AS n
           FROM grid
         ), q AS (
           SELECT f, r AS qhat FROM cum
           WHERE c >= CAST(ceil(CAST(n + 1 AS DOUBLE) * 0.9) AS BIGINT)
             AND c - t < CAST(ceil(CAST(n + 1 AS DOUBLE) * 0.9)
               AS BIGINT)
         )
         SELECT l_orderkey, l_linenumber, l_returnflag,
           round(CAST(l_quantity AS DOUBLE) * 960.0 - q.qhat + 1e-9, 6)
             AS conformal_lo,
           round(CAST(l_quantity AS DOUBLE) * 960.0 + q.qhat + 1e-9, 6)
             AS conformal_hi
         FROM lineitem LEFT JOIN q ON q.f = lineitem.l_returnflag
         WHERE l_orderkey % 2 = 0
         ORDER BY l_orderkey, l_linenumber, conformal_lo""",

    // q379: the q368 replay grouped by returnflag.
    "q379_bootstrap_by" -> poissonBootstrapOracleSql(
      nBoot = 40, alpha = 0.1, salt = "r11", byFlag = true),

    // q377: exact class counts; the row-share is the only division.
    "q377_k_anonymity" ->
      """WITH g AS (
           SELECT source, lang, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY 1, 2
         )
         SELECT source, lang, n, n < 20 AS violates,
           round(CAST(CAST(sum(CASE WHEN n < 20 THEN n ELSE 0 END)
               OVER () AS BIGINT) AS DOUBLE) /
             CAST(CAST(sum(n) OVER () AS BIGINT) AS DOUBLE) + 1e-9, 6)
             AS violation_row_share
         FROM g ORDER BY source, lang""",

    // q378: exact cell counts; per-class entropy is the χ²-tier float.
    "q378_l_diversity" ->
      """WITH cells AS (
           SELECT c_mktsegment, c_nationkey,
             CAST(count(*) AS BIGINT) AS m
           FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 1, 2
         ), t AS (
           SELECT c_mktsegment, m,
             CAST(m AS DOUBLE) /
               CAST(CAST(sum(m) OVER (PARTITION BY c_mktsegment)
                 AS BIGINT) AS DOUBLE) AS p
           FROM cells
         )
         SELECT c_mktsegment,
           CAST(sum(m) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_sensitive,
           round(sum(-1.0 * (p * ln(p))) + 1e-9, 6) AS entropy,
           count(*) < 5 AS violates
         FROM t GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // q375: the q37 sign-matrix replay, raw projections instead of
    // sign bits; group-sum ulp noise absorbed by round-6.
    "q375_random_project" ->
      """WITH signs AS (
           SELECT jj.j AS j, ii.i AS i,
             CASE WHEN (CAST(('0x' || substring(
                    md5(CAST(jj.j AS VARCHAR) || '_' ||
                        CAST(ii.i AS VARCHAR)),
                    1, 15)) AS BIGINT) & 1) = 1 THEN 1 ELSE -1 END AS s
           FROM (SELECT unnest(range(0, 8)) AS j) jj,
                (SELECT unnest(range(0, 64)) AS i) ii
         ), proj AS (
           SELECT e.vec_id, sg.j,
             sum(CAST(e.embedding[sg.i + 1] AS DOUBLE) * sg.s) AS p
           FROM embeddings e, signs sg
           GROUP BY e.vec_id, sg.j
         )
         SELECT vec_id, CAST(j AS INTEGER) AS dim_j,
           round(p + 1e-9, 6) AS proj
         FROM proj ORDER BY vec_id, dim_j""",

    // q376: the rank formulas replayed — floor((n − z√n)/2) with the
    // shared z literal, grid picks at l, u and the median rank.
    "q376_median_ci" ->
      """WITH grid AS (
           SELECT CAST(l_extendedprice AS DOUBLE) AS v,
             CAST(count(*) AS BIGINT) AS t
           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
         ), cum AS (
           SELECT v, t,
             sum(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             sum(t) OVER () AS n
           FROM grid
         ), rk AS (
           SELECT v, t, c, n,
             greatest(1, CAST(floor((CAST(n AS DOUBLE) -
               1.959963984540054 * sqrt(CAST(n AS DOUBLE))) / 2.0)
               AS BIGINT)) AS lr,
             greatest(1, CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT))
               AS mr
           FROM cum
         ), m AS (
           SELECT CAST(n AS BIGINT) AS n, v AS median FROM rk
           WHERE c >= mr AND c - t < mr
         ), lo AS (
           SELECT v AS cl FROM rk WHERE c >= lr AND c - t < lr
         ), hi AS (
           SELECT v AS ch FROM rk
           WHERE c >= n + 1 - lr AND c - t < n + 1 - lr
         )
         SELECT m.n, round(m.median + 1e-9, 6) AS median,
           round(CASE WHEN m.n >= 2 THEN lo.cl END + 1e-9, 6) AS ci_lo,
           round(CASE WHEN m.n >= 2 THEN hi.ch END + 1e-9, 6) AS ci_hi
         FROM m, lo, hi""",

    // q373: the q371 bins plus exact per-row squared-error terms; the
    // Murphy terms mirror op-for-op.
    "q373_brier" ->
      """WITH scored AS (
           SELECT CAST(l_discount AS DOUBLE) * 10.0 AS s,
             CAST(l_quantity AS DOUBLE) >= 25.0 AS yb
           FROM lineitem
           WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
         ), b AS (
           SELECT least(CAST(floor(s * 10.0) AS BIGINT), 9) AS bin,
             CAST(round(s * 1000000.0) AS BIGINT) AS c,
             CASE WHEN yb THEN 1 ELSE 0 END AS y
           FROM scored WHERE s >= 0.0 AND s <= 1.0
         ), g AS (
           SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS np,
             CAST(sum(c) AS BIGINT) AS sc2,
             sum(CAST(c - y * 1000000 AS DOUBLE) *
                 CAST(c - y * 1000000 AS DOUBLE)) AS se2
           FROM b GROUP BY 1
         ), t AS (
           SELECT bin, n, np, sc2, se2,
             CAST(sum(n) OVER () AS BIGINT) AS tn,
             CAST(sum(np) OVER () AS BIGINT) AS tp,
             sum(se2) OVER () AS tse
           FROM g
         ), k AS (
           SELECT n, np, sc2, tn, tp, tse,
             CAST(np AS DOUBLE) / CAST(n AS DOUBLE) AS acc_,
             (CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0
               AS conf_,
             CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE) AS ybar,
             CAST(n AS DOUBLE) / CAST(tn AS DOUBLE) AS share
           FROM t
         )
         SELECT max(tn) AS n,
           round(max((tse / CAST(tn AS DOUBLE)) / 1000000000000.0)
             + 1e-9, 6) AS brier,
           round(sum(share * ((conf_ - acc_) * (conf_ - acc_)))
             + 1e-9, 6) AS reliability,
           round(sum(share * ((acc_ - ybar) * (acc_ - ybar)))
             + 1e-9, 6) AS resolution,
           round(max(ybar * (1.0 - ybar)) + 1e-9, 6) AS uncertainty
         FROM k""",

    // q374: the exact PAV minimax over the weighted score grid — 11³
    // triples, all-integer range sums.
    "q374_isotonic" ->
      """WITH g AS (
           SELECT CAST(l_discount AS DOUBLE) AS x,
             CAST(count(*) AS BIGINT) AS w,
             CAST(sum(CASE WHEN CAST(l_quantity AS DOUBLE) >= 25.0
               THEN 1 ELSE 0 END) AS BIGINT) AS sy
           FROM lineitem
           WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
           GROUP BY 1
         ), o AS (
           SELECT x, w, sy,
             CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS i,
             CAST(sum(w) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cw,
             CAST(sum(sy) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cy
           FROM g
         ), t3 AS (
           SELECT ji.i AS j, ii.i AS i,
             CAST(ki.cy - coalesce(jp.cy, 0) AS DOUBLE) /
               CAST(ki.cw - coalesce(jp.cw, 0) AS DOUBLE) AS a
           FROM o ii
           JOIN o ji ON ji.i <= ii.i
           JOIN o ki ON ki.i >= ii.i
           LEFT JOIN o jp ON jp.i = ji.i - 1
         ), mn AS (
           SELECT j, i, min(a) AS v FROM t3 GROUP BY 1, 2
         ), iso AS (
           SELECT i, max(v) AS iso FROM mn GROUP BY 1
         )
         SELECT o.x, round(iso.iso + 1e-9, 6) AS calibrated
         FROM o JOIN iso ON iso.i = o.i ORDER BY o.x""",

    // q372: streaming PSI replay — exact integer bin counts per day
    // bucket (stream == batch), the q370 arithmetic PER WINDOW.
    "q372_stream_psi" ->
      """WITH binned AS (
           SELECT event_id, ts,
             (CASE WHEN CAST(value AS DOUBLE) >= 15.0 THEN 1 ELSE 0 END
              + CASE WHEN CAST(value AS DOUBLE) >= 35.0 THEN 1 ELSE 0 END
              + CASE WHEN CAST(value AS DOUBLE) >= 70.0 THEN 1 ELSE 0 END)
               AS bin
           FROM events WHERE value IS NOT NULL
         ), cur AS (
           SELECT time_bucket(INTERVAL '1 day', ts) AS ws, bin,
             CAST(count(*) AS BIGINT) AS n_cur
           FROM binned WHERE event_id % 2 = 0 AND ts IS NOT NULL
           GROUP BY 1, 2
         ), ref AS (
           SELECT bin, CAST(count(*) AS BIGINT) AS n_ref
           FROM binned WHERE event_id % 2 = 1 GROUP BY 1
         ), wgrid AS (SELECT DISTINCT ws FROM cur
         ), bins AS (
           SELECT CAST(unnest(range(0, 4)) AS INTEGER) AS bin
         ), j AS (
           SELECT w.ws, b.bin, coalesce(r.n_ref, 0) AS n_ref,
             coalesce(c.n_cur, 0) AS n_cur
           FROM wgrid w CROSS JOIN bins b
           LEFT JOIN ref r ON r.bin = b.bin
           LEFT JOIN cur c ON c.ws = w.ws AND c.bin = b.bin
         ), t AS (
           SELECT ws, bin, n_ref, n_cur,
             CAST(n_ref AS DOUBLE) /
               CAST(CAST(sum(n_ref) OVER (PARTITION BY ws) AS BIGINT)
                 AS DOUBLE) AS pr,
             CAST(n_cur AS DOUBLE) /
               CAST(CAST(sum(n_cur) OVER (PARTITION BY ws) AS BIGINT)
                 AS DOUBLE) AS pc
           FROM j
         ), m AS (
           SELECT ws, bin, n_ref, n_cur, pr, pc,
             CASE WHEN n_ref > 0 AND n_cur > 0
               THEN (pc - pr) * ln(pc / pr) END AS contrib_
           FROM t
         )
         SELECT ws, bin, n_ref, n_cur,
           round(pr + 1e-9, 6) AS p_ref, round(pc + 1e-9, 6) AS p_cur,
           round(contrib_ + 1e-9, 6) AS contrib,
           round(CASE WHEN count(contrib_) OVER (PARTITION BY ws) =
               count(*) OVER (PARTITION BY ws)
             THEN sum(contrib_) OVER (PARTITION BY ws) END + 1e-9, 6)
             AS psi_total
         FROM m ORDER BY ws, bin""",

    // q369: exact 2x2xK cells; quadratic moments multiply in double
    // from the first factor on both sides (the ANSI convention).
    "q369_cmh" ->
      """WITH marked AS (
           SELECT l_returnflag AS s,
             CAST(l_discount AS DOUBLE) >= 0.05 AS x,
             CAST(l_quantity AS DOUBLE) >= 25.0 AS y
           FROM lineitem
           WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
             AND l_returnflag IS NOT NULL
         ), cells AS (
           SELECT s,
             CAST(sum(CASE WHEN x AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN x AND NOT y THEN 1 ELSE 0 END) AS BIGINT)
               AS b,
             CAST(sum(CASE WHEN NOT x AND y THEN 1 ELSE 0 END) AS BIGINT)
               AS c,
             CAST(sum(CASE WHEN NOT x AND NOT y THEN 1 ELSE 0 END)
               AS BIGINT) AS d
           FROM marked GROUP BY 1
         ), f AS (
           SELECT *, a + b + c + d AS N FROM cells
           WHERE a + b + c + d >= 2
         ), terms AS (
           SELECT N, CAST(a AS DOUBLE) AS ad,
             CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE) /
               CAST(N AS DOUBLE) AS e,
             ((CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)) *
               CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) /
               ((CAST(N AS DOUBLE) * CAST(N AS DOUBLE)) *
                 (CAST(N AS DOUBLE) - 1.0)) AS v,
             (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)) / CAST(N AS DOUBLE)
               AS orn,
             (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) / CAST(N AS DOUBLE)
               AS ord_
           FROM f
         )
         SELECT CAST(count(*) AS BIGINT) AS k_strata,
           CAST(sum(N) AS BIGINT) AS n,
           round(CASE WHEN sum(v) > 0 THEN
             ((sum(ad) - sum(e)) * (sum(ad) - sum(e))) / sum(v)
             END + 1e-9, 6) AS cmh_chi2,
           round(CASE WHEN sum(ord_) > 0 THEN sum(orn) / sum(ord_)
             END + 1e-9, 6) AS or_mh
         FROM terms""",

    // q370: pinned-edge bin replay; empty-on-either-side bins surface
    // NULL contribution AND total on both sides.
    "q370_psi" ->
      """WITH rbin AS (
           SELECT (CASE WHEN CAST(l_extendedprice AS DOUBLE) >= 1000.0
               THEN 1 ELSE 0 END
             + CASE WHEN CAST(l_extendedprice AS DOUBLE) >= 5000.0
               THEN 1 ELSE 0 END
             + CASE WHEN CAST(l_extendedprice AS DOUBLE) >= 10000.0
               THEN 1 ELSE 0 END
             + CASE WHEN CAST(l_extendedprice AS DOUBLE) >= 50000.0
               THEN 1 ELSE 0 END) AS bin,
             l_orderkey % 2 = 1 AS isref
           FROM lineitem WHERE l_extendedprice IS NOT NULL
         ), rc AS (
           SELECT bin, CAST(count(*) AS BIGINT) AS n_ref FROM rbin
           WHERE isref GROUP BY 1
         ), cc AS (
           SELECT bin, CAST(count(*) AS BIGINT) AS n_cur FROM rbin
           WHERE NOT isref GROUP BY 1
         ), bins AS (
           SELECT CAST(unnest(range(0, 5)) AS INTEGER) AS bin
         ), j AS (
           SELECT bins.bin, coalesce(rc.n_ref, 0) AS n_ref,
             coalesce(cc.n_cur, 0) AS n_cur
           FROM bins LEFT JOIN rc USING (bin) LEFT JOIN cc USING (bin)
         ), t AS (
           SELECT bin, n_ref, n_cur,
             CAST(n_ref AS DOUBLE) /
               CAST(CAST(sum(n_ref) OVER () AS BIGINT) AS DOUBLE) AS pr,
             CAST(n_cur AS DOUBLE) /
               CAST(CAST(sum(n_cur) OVER () AS BIGINT) AS DOUBLE) AS pc
           FROM j
         ), m AS (
           SELECT bin, n_ref, n_cur, pr, pc,
             CASE WHEN n_ref > 0 AND n_cur > 0
               THEN (pc - pr) * ln(pc / pr) END AS contrib_
           FROM t
         )
         SELECT bin, n_ref, n_cur,
           round(pr + 1e-9, 6) AS p_ref, round(pc + 1e-9, 6) AS p_cur,
           round(contrib_ + 1e-9, 6) AS contrib,
           round(CASE WHEN count(contrib_) OVER () = count(*) OVER ()
             THEN sum(contrib_) OVER () END + 1e-9, 6) AS psi_total
         FROM m ORDER BY bin""",

    // q371: exact bin counts + scaled-integer confidence sums; ECE is
    // the only cross-bin float sum.
    "q371_calibration" ->
      """WITH scored AS (
           SELECT CAST(l_discount AS DOUBLE) * 10.0 AS s,
             CAST(l_quantity AS DOUBLE) >= 25.0 AS yb
           FROM lineitem
           WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
         ), b AS (
           SELECT least(CAST(floor(s * 10.0) AS BIGINT), 9) AS bin,
             CAST(round(s * 1000000.0) AS BIGINT) AS c,
             CASE WHEN yb THEN 1 ELSE 0 END AS y
           FROM scored WHERE s >= 0.0 AND s <= 1.0
         ), g AS (
           SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(c) AS BIGINT) AS sc2
           FROM b GROUP BY 1
         ), t AS (
           SELECT bin, n, n_pos, sc2,
             CAST(sum(n) OVER () AS BIGINT) AS tn
           FROM g
         ), k AS (
           SELECT bin, n, n_pos,
             CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc_,
             (CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0
               AS conf_,
             abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) -
               (CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0)
               AS gap_,
             (CAST(n AS DOUBLE) / CAST(tn AS DOUBLE)) *
               abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) -
                 (CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0)
               AS w_
           FROM t
         )
         SELECT bin, n, n_pos,
           round(acc_ + 1e-9, 6) AS acc, round(conf_ + 1e-9, 6) AS conf,
           round(gap_ + 1e-9, 6) AS gap,
           round(sum(w_) OVER () + 1e-9, 6) AS ece_total
         FROM k ORDER BY bin""",

    // q365: integer largest-remainder replay; sqrt is IEEE-exact so the
    // weights (and therefore everything) are engine-identical.
    "q365_temperature_mix" ->
      """WITH grid AS (
           SELECT source AS key, CAST(count(*) AS BIGINT) AS n
           FROM documents WHERE source IS NOT NULL GROUP BY 1
         ), w AS (
           SELECT key, n,
             CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000.0) AS BIGINT)
               AS weight
           FROM grid
         ), t AS (
           SELECT key, n, weight,
             CAST((300 * weight) // CAST(sum(weight) OVER () AS BIGINT)
               AS BIGINT) AS base_,
             (300 * weight) % CAST(sum(weight) OVER () AS BIGINT) AS rem
           FROM w
         ), r AS (
           SELECT key, n, weight, base_,
             CAST(sum(base_) OVER () AS BIGINT) AS sb,
             CAST(row_number() OVER (ORDER BY rem DESC, n DESC, key)
               AS BIGINT) AS rk
           FROM t
         )
         SELECT key, n, weight,
           base_ + CASE WHEN rk <= 300 - sb THEN 1 ELSE 0 END AS alloc,
           round(CAST(base_ + CASE WHEN rk <= 300 - sb THEN 1 ELSE 0 END
               AS DOUBLE) / CAST(n AS DOUBLE) + 1e-9, 6) AS epochs
         FROM r ORDER BY key""",

    // q366: the exact-grid rank pick replayed; q-hat rides every row as
    // the same literal on both sides.
    "q366_conformal" -> (conformalOracleCtes + """
         SELECT l_orderkey, l_linenumber,
           round(CAST(l_quantity AS DOUBLE) * 960.0 - q.qhat + 1e-9, 6)
             AS conformal_lo,
           round(CAST(l_quantity AS DOUBLE) * 960.0 + q.qhat + 1e-9, 6)
             AS conformal_hi
         FROM lineitem, q WHERE l_orderkey % 2 = 0
         ORDER BY l_orderkey, l_linenumber, conformal_lo"""),

    // q367: the guarantee measured — exact covered counts.
    "q367_conformal_coverage" -> (conformalOracleCtes + """
         , c AS (
           SELECT CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN CAST(l_extendedprice AS DOUBLE) >=
                 CAST(l_quantity AS DOUBLE) * 960.0 - q.qhat
               AND CAST(l_extendedprice AS DOUBLE) <=
                 CAST(l_quantity AS DOUBLE) * 960.0 + q.qhat
               THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
           FROM lineitem, q WHERE l_orderkey % 2 = 0
         )
         SELECT n_test, n_covered,
           round(CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE)
             + 1e-9, 6) AS coverage
         FROM c"""),

    // q363: BLEU replayed gram-for-gram — integer clipped counts, the
    // ln/exp geometric mean and brevity penalty mirrored op-for-op.
    "q363_bleu" -> (bleuOracleCtes(4) + """
         SELECT doc_id,
           round(CASE
             WHEN len(gc1) = 0 OR len(gc2) = 0 OR len(gc3) = 0
               OR len(gc4) = 0 OR len(gr1) = 0 THEN NULL
             WHEN cl1 = 0 OR cl2 = 0 OR cl3 = 0 OR cl4 = 0 THEN 0.0
             ELSE (CASE WHEN CAST(len(gc1) AS DOUBLE) >
                     CAST(len(gr1) AS DOUBLE) THEN 1.0
                   ELSE exp(1.0 - CAST(len(gr1) AS DOUBLE) /
                     CAST(len(gc1) AS DOUBLE)) END)
               * exp((ln(CAST(cl1 AS DOUBLE) / CAST(len(gc1) AS DOUBLE))
                 + ln(CAST(cl2 AS DOUBLE) / CAST(len(gc2) AS DOUBLE))
                 + ln(CAST(cl3 AS DOUBLE) / CAST(len(gc3) AS DOUBLE))
                 + ln(CAST(cl4 AS DOUBLE) / CAST(len(gc4) AS DOUBLE)))
                 / 4.0)
             END + 1e-9, 6) AS bleu
         FROM cl ORDER BY doc_id"""),

    // q364: ROUGE-2 precision/recall/F1 from the same clipped counts.
    "q364_rouge" -> (bleuOracleCtes(2) + """
         SELECT doc_id,
           round(CASE WHEN len(gc2) = 0 OR len(gr2) = 0 THEN NULL
             ELSE CAST(cl2 AS DOUBLE) / CAST(len(gc2) AS DOUBLE)
             END + 1e-9, 6) AS rouge2_precision,
           round(CASE WHEN len(gc2) = 0 OR len(gr2) = 0 THEN NULL
             ELSE CAST(cl2 AS DOUBLE) / CAST(len(gr2) AS DOUBLE)
             END + 1e-9, 6) AS rouge2_recall,
           round(CASE WHEN len(gc2) = 0 OR len(gr2) = 0 THEN NULL
             WHEN cl2 = 0 THEN 0.0
             ELSE ((2.0 * (CAST(cl2 AS DOUBLE) / CAST(len(gc2) AS DOUBLE)))
                 * (CAST(cl2 AS DOUBLE) / CAST(len(gr2) AS DOUBLE)))
               / ((CAST(cl2 AS DOUBLE) / CAST(len(gc2) AS DOUBLE))
                 + (CAST(cl2 AS DOUBLE) / CAST(len(gr2) AS DOUBLE)))
             END + 1e-9, 6) AS rouge2_f1
         FROM cl ORDER BY doc_id"""),

    // q360: the q38 kernel contract at rank == 5 exactly.
    "q360_knn_outlier" ->
      """WITH scored AS (
           SELECT q.vec_id AS id, c.vec_id AS nid,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS c_raw
           FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         ), ranked AS (
           SELECT id, c_raw,
             row_number() OVER (PARTITION BY id
                                ORDER BY c_raw DESC, nid) AS r
           FROM scored
         )
         SELECT id, round(c_raw, 6) AS knn_cosine,
           round(1.0 - c_raw, 6) AS outlier_score
         FROM ranked WHERE r = 5 ORDER BY id""",

    // q361: the mSPRT recursion replayed per returnflag with the
    // operator's scaled literals embedded — see msprtOracleSql.
    "q361_msprt" -> msprtOracleSql(theta0 = 0.05, tau2 = 0.0004,
      scaleDecimals = 2),

    // q392: the 2x2 DiD replay — exact integer cell sums (S, Q),
    // means/variances/SE in the operator's own term order.
    "q392_did" ->
      """WITH base AS (
           SELECT (l_returnflag = 'R') AS t,
             (CAST(year(l_shipdate) AS VARCHAR) = '1997') AS post,
             CAST(round(CAST(l_quantity AS DOUBLE) * 1.0) AS BIGINT) AS c
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_returnflag IN ('R', 'A')
             AND CAST(year(l_shipdate) AS VARCHAR) IN ('1997', '1995')
         ), a AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(CASE WHEN t AND NOT post THEN 1 END) AS BIGINT)
               AS n_tpre,
             CAST(sum(CASE WHEN t AND NOT post THEN c END) AS BIGINT)
               AS s_tpre,
             CAST(sum(CASE WHEN t AND NOT post THEN c * c END) AS BIGINT)
               AS q_tpre,
             CAST(count(CASE WHEN t AND post THEN 1 END) AS BIGINT)
               AS n_tpost,
             CAST(sum(CASE WHEN t AND post THEN c END) AS BIGINT)
               AS s_tpost,
             CAST(sum(CASE WHEN t AND post THEN c * c END) AS BIGINT)
               AS q_tpost,
             CAST(count(CASE WHEN NOT t AND NOT post THEN 1 END) AS BIGINT)
               AS n_cpre,
             CAST(sum(CASE WHEN NOT t AND NOT post THEN c END) AS BIGINT)
               AS s_cpre,
             CAST(sum(CASE WHEN NOT t AND NOT post THEN c * c END)
               AS BIGINT) AS q_cpre,
             CAST(count(CASE WHEN NOT t AND post THEN 1 END) AS BIGINT)
               AS n_cpost,
             CAST(sum(CASE WHEN NOT t AND post THEN c END) AS BIGINT)
               AS s_cpost,
             CAST(sum(CASE WHEN NOT t AND post THEN c * c END) AS BIGINT)
               AS q_cpost
           FROM base
         ), m AS (
           SELECT *,
             (CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE)) / 1.0
               AS m_tpre,
             (CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE)) / 1.0
               AS m_tpost,
             (CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE)) / 1.0
               AS m_cpre,
             (CAST(s_cpost AS DOUBLE) / CAST(n_cpost AS DOUBLE)) / 1.0
               AS m_cpost,
             ((CAST(q_tpre AS DOUBLE) * CAST(n_tpre AS DOUBLE)
               - CAST(s_tpre AS DOUBLE) * CAST(s_tpre AS DOUBLE))
               / (CAST(n_tpre AS DOUBLE) * (CAST(n_tpre AS DOUBLE) - 1.0)))
               / 1.0 AS v_tpre,
             ((CAST(q_tpost AS DOUBLE) * CAST(n_tpost AS DOUBLE)
               - CAST(s_tpost AS DOUBLE) * CAST(s_tpost AS DOUBLE))
               / (CAST(n_tpost AS DOUBLE) * (CAST(n_tpost AS DOUBLE) - 1.0)))
               / 1.0 AS v_tpost,
             ((CAST(q_cpre AS DOUBLE) * CAST(n_cpre AS DOUBLE)
               - CAST(s_cpre AS DOUBLE) * CAST(s_cpre AS DOUBLE))
               / (CAST(n_cpre AS DOUBLE) * (CAST(n_cpre AS DOUBLE) - 1.0)))
               / 1.0 AS v_cpre,
             ((CAST(q_cpost AS DOUBLE) * CAST(n_cpost AS DOUBLE)
               - CAST(s_cpost AS DOUBLE) * CAST(s_cpost AS DOUBLE))
               / (CAST(n_cpost AS DOUBLE) * (CAST(n_cpost AS DOUBLE) - 1.0)))
               / 1.0 AS v_cpost
           FROM a
         ), d AS (
           SELECT *,
             (m_tpost - m_tpre) - (m_cpost - m_cpre) AS did,
             sqrt(((v_tpre / CAST(n_tpre AS DOUBLE)
               + v_tpost / CAST(n_tpost AS DOUBLE))
               + v_cpre / CAST(n_cpre AS DOUBLE))
               + v_cpost / CAST(n_cpost AS DOUBLE)) AS se
           FROM m
         )
         SELECT n, n_tpre, n_tpost, n_cpre, n_cpost,
           round(m_tpre + 1e-9, 6) AS mean_tpre,
           round(m_tpost + 1e-9, 6) AS mean_tpost,
           round(m_cpre + 1e-9, 6) AS mean_cpre,
           round(m_cpost + 1e-9, 6) AS mean_cpost,
           round(did + 1e-9, 6) AS did,
           round(CASE WHEN n_tpre >= 2 AND n_tpost >= 2 AND n_cpre >= 2
             AND n_cpost >= 2 THEN se END + 1e-9, 6) AS se_did,
           round(CASE WHEN n_tpre >= 2 AND n_tpost >= 2 AND n_cpre >= 2
             AND n_cpost >= 2 THEN did - 1.96 * se END + 1e-9, 6) AS ci_lo,
           round(CASE WHEN n_tpre >= 2 AND n_tpost >= 2 AND n_cpre >= 2
             AND n_cpost >= 2 THEN did + 1.96 * se END + 1e-9, 6) AS ci_hi
         FROM d""",

    "q393_srm" -> srmOracleSql(Map("0" -> 1.0, "1" -> 1.0, "2" -> 1.0)),

    "q395_stream_srm" ->
      streamSrmOracleSql(Map("0" -> 1.0, "1" -> 1.0, "2" -> 1.0)),

    "q396_quantile_effect" -> quantileEffectOracleSql(p = 0.75,
      nBoot = 24, alpha = 0.1, salt = "q396"),

    "q394_post_strat" ->
      postStratOracleSql(Map("A" -> 0.3, "N" -> 0.5, "R" -> 0.2)),

    // q362: the delete-one-group closed form; exact-integer group sums,
    // the only float sums are the G-term jackknife aggregates.
    "q362_jackknife_ratio" ->
      """WITH g AS (
           SELECT l_suppkey AS gk,
             sum(CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0)
                 AS BIGINT)) AS y,
             sum(CAST(round(CAST(l_quantity AS DOUBLE) * 1.0)
                 AS BIGINT)) AS x
           FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1
         ), t AS (
           SELECT sum(y) AS ty, sum(x) AS tx,
             CAST(count(*) AS BIGINT) AS gn
           FROM g
         ), l AS (
           SELECT CASE WHEN t.tx - g.x <> 0 THEN
               CAST(t.ty - g.y AS DOUBLE) / CAST(t.tx - g.x AS DOUBLE)
                 / 100.0
             END AS th
           FROM g, t
         ), a AS (
           SELECT avg(th) AS thbar, count(*) AS cnt, count(th) AS okn
           FROM l
         ), sq AS (
           SELECT sum((l.th - a.thbar) * (l.th - a.thbar)) AS ssq
           FROM l, a
         ), f AS (
           SELECT t.gn, t.ty, t.tx, sq.ssq,
             (t.gn >= 2 AND a.okn = a.cnt AND t.tx <> 0) AS ok,
             CAST(t.ty AS DOUBLE) / CAST(t.tx AS DOUBLE) / 100.0 AS theta,
             a.thbar,
             sqrt(((CAST(t.gn AS DOUBLE) - 1.0) / CAST(t.gn AS DOUBLE))
               * sq.ssq) AS se
           FROM t, a, sq
         )
         SELECT gn AS n_groups,
           round(CASE WHEN ok THEN theta END + 1e-9, 6) AS theta,
           round(CASE WHEN ok THEN thbar END + 1e-9, 6)
             AS theta_jack_mean,
           round(CASE WHEN ok THEN se END + 1e-9, 6) AS se_jack,
           round(CASE WHEN ok THEN theta - 1.96 * se END + 1e-9, 6)
             AS ci_lo,
           round(CASE WHEN ok THEN theta + 1.96 * se END + 1e-9, 6)
             AS ci_hi
         FROM f""",

    // q357: direct per-source KMV replay — the gate's (source, lang)
    // build + merge collapses to this by the lossless bottom-k merge.
    "q357_kmv_distinct" -> kmvPerSourceOracleSql,

    // q388: SAME oracle as q357 deliberately — the gate pipeline adds a
    // parquet store → fresh-session load between build and merge, so
    // matching the direct-build replay proves persistence is lossless.
    "q388_kmv_roundtrip" -> kmvPerSourceOracleSql,

    // q358: theta-sketch pairwise replay — per-source bottom-64 lists,
    // union re-truncated to 64, matches counted against BOTH sketches,
    // the same (k-1)*2^60/(kth+1) estimator and multiply order.
    "q358_kmv_overlap" -> (kmvShingleHashCtes + s""", rk AS (
           SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS r
           FROM hx
         ), ka AS (
           SELECT source, list_sort(list(h)) AS kmv
           FROM rk WHERE r <= 64 GROUP BY source
         ), ex AS (
           SELECT a.source AS key_a, b.source AS key_b,
             list_slice(list_sort(list_distinct(list_concat(a.kmv, b.kmv))),
               1, 64) AS u,
             list_intersect(a.kmv, b.kmv) AS bt
           FROM ka a JOIN ka b ON a.source < b.source
         ), m AS (
           SELECT key_a, key_b,
             CAST(len(u) AS INTEGER) AS n_union_kmv,
             CAST(len(list_intersect(u, bt)) AS BIGINT) AS matches,
             u[len(u)] AS kth, len(u) AS nu
           FROM ex
         )
         SELECT key_a, key_b, n_union_kmv, matches,
           round(CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
             ELSE $kmvNum64 / (CAST(kth AS DOUBLE) + 1.0) END + 1e-9, 6)
             AS union_approx,
           round(CASE WHEN nu > 0 THEN
             CAST(matches AS DOUBLE) / CAST(nu AS DOUBLE) END + 1e-9, 6)
             AS jaccard_approx,
           round(CASE WHEN nu > 0 THEN
             CAST(matches AS DOUBLE) / CAST(nu AS DOUBLE) *
             (CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
               ELSE $kmvNum64 / (CAST(kth AS DOUBLE) + 1.0) END)
             END + 1e-9, 6) AS intersect_approx
         FROM m ORDER BY key_a, key_b"""),

    // q356: the Kish identities with the operator's exact guard and
    // round conventions.
    "q356_weight_ess" ->
      """WITH b AS (
           SELECT CAST(n_chars AS DOUBLE) AS w FROM documents
           WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0
         ), a AS (
           SELECT CAST(count(*) AS BIGINT) AS n, sum(w) AS sw,
             sum(w * w) AS sw2, max(w) AS mx
           FROM b
         )
         SELECT n,
           round(CASE WHEN sw2 > 0 THEN sw * sw / sw2 END + 1e-9, 6)
             AS ess,
           round(CASE WHEN sw2 > 0 AND n > 0
             THEN sw * sw / sw2 / CAST(n AS DOUBLE) END + 1e-9, 6)
             AS ess_frac,
           round(CASE WHEN sw > 0 THEN mx / sw END + 1e-9, 6)
             AS max_w_share,
           round(CASE WHEN sw > 0 THEN
             sqrt(greatest(CAST(n AS DOUBLE) * sw2 / (sw * sw) - 1.0,
               0.0)) END + 1e-9, 6) AS cv_w
         FROM a""",

    // q354: fertility totals over the final BPE word table (frozen
    // apply on the learn corpus == the learn-side segmentation).
    "q354_bpe_fertility" -> (bpeOracleCtes(BpeGateMerges) + s"""
         SELECT CAST(coalesce(sum(freq), 0) AS BIGINT) AS n_words,
           CAST(coalesce(sum(freq * len(word)), 0) AS BIGINT) AS n_chars,
           CAST(coalesce(sum(freq * len(syms)), 0) AS BIGINT) AS n_tokens,
           round(CASE WHEN sum(freq * len(syms)) > 0 THEN
             CAST(sum(freq * len(word)) AS DOUBLE) /
             CAST(sum(freq * len(syms)) AS DOUBLE) END + 1e-9, 6)
             AS chars_per_token,
           round(CASE WHEN sum(freq) > 0 THEN
             CAST(sum(freq * len(syms)) AS DOUBLE) /
             CAST(sum(freq) AS DOUBLE) END + 1e-9, 6) AS tokens_per_word
         FROM w${BpeGateMerges}"""),

    // q355: the percentiles rank convention (max(ceil(p*n), 1), first
    // grid row reaching the rank) partitioned by group, then clamp.
    "q355_winsorize" ->
      """WITH g AS (
           SELECT l_returnflag AS f,
             CAST(l_extendedprice AS DOUBLE) AS v,
             CAST(count(*) AS BIGINT) AS t
           FROM lineitem GROUP BY 1, 2
         ), c AS (
           SELECT f, v,
             sum(t) OVER (PARTITION BY f ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(t) OVER (PARTITION BY f) AS n
           FROM g
         ), b AS (
           SELECT f,
             min(CASE WHEN cum >= greatest(CAST(ceil(0.05 * n) AS BIGINT),
               1) THEN v END) AS lo,
             min(CASE WHEN cum >= greatest(CAST(ceil(0.95 * n) AS BIGINT),
               1) THEN v END) AS hi
           FROM c GROUP BY 1
         )
         SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           least(greatest(CAST(l.l_extendedprice AS DOUBLE), b.lo), b.hi)
             AS l_extendedprice_w
         FROM lineitem l JOIN b ON b.f = l.l_returnflag
         ORDER BY l.l_orderkey, l.l_linenumber""",

    "q353_stream_cdc_novel" -> (cdcOracleCtes(
      "CASE WHEN doc_id % 5 = 0 THEN text || " +
        "repeat('graft boiler plate segment ', 9) ELSE text END") + """
         SELECT doc_id, chunk_idx, "start", chunk_len, chunk_md5
         FROM ch WHERE doc_id >= 250 AND chunk_md5 NOT IN
           (SELECT chunk_md5 FROM ch WHERE doc_id < 250)
         ORDER BY doc_id, chunk_idx"""),

    "q350_cdc_dedup" -> (cdcOracleCtes(
      "CASE WHEN doc_id % 5 = 0 THEN text || " +
        "repeat('graft boiler plate segment ', 9) ELSE text END") + """
         SELECT chunk_md5,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(max(chunk_len) AS BIGINT) AS chunk_len
         FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
         ORDER BY chunk_md5"""),

    // q347/q348: the water-filling level search replayed — feasibility
    // via guarded integer division (never the overflow-prone product),
    // remainder +1 to the largest (n, key); q348 adds the salted-hash
    // cap-prefix row pick.
    "q347_waterfill_caps" ->
      """WITH g AS (
           SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n
           FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1
         ), w AS MATERIALIZED (
           SELECT key, n,
             CAST(row_number() OVER (ORDER BY n, key) AS BIGINT) AS i,
             CAST(sum(n) OVER (ORDER BY n, key
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS s
           FROM g
         ), m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM w),
         f AS (
           SELECT i, s FROM w, m
           WHERE 30000 - s >= 0 AND
             (CASE WHEN m.m > i THEN n <= (30000 - s) // (m.m - i)
               ELSE TRUE END)
         ), sc AS (
           SELECT CAST(coalesce(max(i), 0) AS BIGINT) AS istar,
             CAST(coalesce(max(s), 0) AS BIGINT) AS sstar
           FROM f
         )
         SELECT w.key AS l_partkey, w.n,
           CASE WHEN w.i <= sc.istar THEN w.n
           ELSE (30000 - sc.sstar) // (m.m - sc.istar) +
             CASE WHEN w.i > m.m -
               ((30000 - sc.sstar) % (m.m - sc.istar))
               THEN 1 ELSE 0 END
           END AS cap
         FROM w, m, sc ORDER BY l_partkey""",

    "q348_waterfill_sample" ->
      """WITH g AS (
           SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n
           FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1
         ), w AS MATERIALIZED (
           SELECT key, n,
             CAST(row_number() OVER (ORDER BY n, key) AS BIGINT) AS i,
             CAST(sum(n) OVER (ORDER BY n, key
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS s
           FROM g
         ), m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM w),
         f AS (
           SELECT i, s FROM w, m
           WHERE 30000 - s >= 0 AND
             (CASE WHEN m.m > i THEN n <= (30000 - s) // (m.m - i)
               ELSE TRUE END)
         ), sc AS (
           SELECT CAST(coalesce(max(i), 0) AS BIGINT) AS istar,
             CAST(coalesce(max(s), 0) AS BIGINT) AS sstar
           FROM f
         ), caps AS (
           SELECT w.key,
             CASE WHEN w.i <= sc.istar THEN w.n
             ELSE (30000 - sc.sstar) // (m.m - sc.istar) +
               CASE WHEN w.i > m.m -
                 ((30000 - sc.sstar) % (m.m - sc.istar))
                 THEN 1 ELSE 0 END
             END AS cap
           FROM w, m, sc
         ), r AS (
           SELECT l_orderkey, l_linenumber, l_partkey,
             row_number() OVER (PARTITION BY l_partkey ORDER BY
               CAST(('0x' || substring(md5('r11§' ||
                 CAST(l_orderkey AS VARCHAR) || '§' ||
                 CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT),
               l_orderkey, l_linenumber) AS rn
           FROM lineitem WHERE l_partkey IS NOT NULL
         )
         SELECT r.l_orderkey, r.l_linenumber, r.l_partkey
         FROM r JOIN caps ON caps.key = r.l_partkey
         WHERE r.rn <= caps.cap
         ORDER BY r.l_orderkey, r.l_linenumber""",

    // q342: unigram and adjacent-bigram grids replayed, PMI with the
    // operator's exact division shape (ratio of ratios, casts first).
    "q342_collocations" ->
      """WITH toks AS MATERIALIZED (
           SELECT list_filter(
             string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
             t -> t <> '') AS t
           FROM documents WHERE text IS NOT NULL
         ), uni AS MATERIALIZED (SELECT unnest(t) AS w FROM toks),
         uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
         nu AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni),
         bg AS MATERIALIZED (
           SELECT t[j] AS w1, t[j + 1] AS w2 FROM (
             SELECT t, unnest(generate_series(1, len(t) - 1)) AS j
             FROM toks WHERE len(t) >= 2)
         ), nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg)
         SELECT w1, w2, n_pair,
           round(ln((CAST(n_pair AS DOUBLE) / CAST(nb.n AS DOUBLE)) /
             ((CAST(a.c AS DOUBLE) / CAST(nu.n AS DOUBLE)) *
              (CAST(b.c AS DOUBLE) / CAST(nu.n AS DOUBLE)))) + 1e-9, 6)
             AS pmi
         FROM (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
               FROM bg GROUP BY 1, 2) p
         JOIN uc a ON a.w = p.w1
         JOIN uc b ON b.w = p.w2, nu, nb
         WHERE n_pair >= 5
         ORDER BY w1, w2""",

    // q343: vocabulary grid totals + closed-form OLS of ln(freq) on
    // ln(rank) over the top-200 terms (freq DESC, term ASC), the
    // operator's guard/round conventions.
    "q343_zipf" ->
      """WITH uni AS (
           SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
             t -> t <> '')) AS w
           FROM documents WHERE text IS NOT NULL
         ), g AS MATERIALIZED (
           SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1
         ), t AS (
           SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_vocab,
             CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS hapax,
             CAST(coalesce(max(c), 0) AS BIGINT) AS top
           FROM g
         ), f AS (
           SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w)
               AS DOUBLE)) AS x,
             ln(CAST(c AS DOUBLE)) AS y
           FROM g ORDER BY c DESC, w LIMIT 200
         ), s AS (
           SELECT CAST(count(*) AS BIGINT) AS nf,
             sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             sum(y * y) AS syy, sum(x * y) AS sxy
           FROM f
         )
         SELECT n_tokens, n_vocab,
           round(CASE WHEN n_vocab > 0 THEN
             CAST(hapax AS DOUBLE) / CAST(n_vocab AS DOUBLE) END + 1e-9, 6)
             AS hapax_frac,
           round(CASE WHEN n_tokens > 0 THEN
             CAST(top AS DOUBLE) / CAST(n_tokens AS DOUBLE) END + 1e-9, 6)
             AS top1_share,
           CAST(nf AS INT) AS n_fit,
           round(CASE WHEN CAST(nf AS DOUBLE) * sxx - sx * sx > 0 THEN
             (CAST(nf AS DOUBLE) * sxy - sx * sy) /
             (CAST(nf AS DOUBLE) * sxx - sx * sx) END + 1e-9, 6)
             AS zipf_slope,
           round(CASE WHEN (CAST(nf AS DOUBLE) * sxx - sx * sx) *
               (CAST(nf AS DOUBLE) * syy - sy * sy) > 0 THEN
             (CAST(nf AS DOUBLE) * sxy - sx * sy) *
             (CAST(nf AS DOUBLE) * sxy - sx * sy) /
             ((CAST(nf AS DOUBLE) * sxx - sx * sx) *
              (CAST(nf AS DOUBLE) * syy - sy * sy)) END + 1e-9, 6)
             AS zipf_r2
         FROM t, s""",
    "q242_label_propagation" -> labelPropagationOracleSql(rounds = 3),

    // q251: generated unrolled min-plus relaxation (see ssspOracleSql).
    "q251_sssp_weighted" -> ssspOracleSql(rounds = 6),

    // q254: generated unrolled composite-key BFS (see harmonicOracleSql).
    "q254_harmonic_closeness" -> harmonicOracleSql(depth = 4),

    // q274: generated unrolled support peeling (see kTrussOracleSql).
    "q274_ktruss" -> kTrussOracleSql(k = 4, rounds = 8),

    // q275: generated unrolled H-index propagation.
    "q275_core_number" -> coreNumberOracleSql(rounds = 12),

    // q280/q281: the q252 gram device, pairwise; grams regrouped by
    // STRING where the operator hashes (the q102/q105 collision
    // argument).
    "q280_containment_pairs" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f]+'),
                         t -> len(t) > 0) AS t
           FROM documents
         ), g0 AS (
           SELECT DISTINCT doc_id,
             unnest([array_to_string(t[i:i+4], ' ')
                     for i in range(1, len(t) - 3)]) AS g
           FROM toks WHERE len(t) >= 5
         ), hot AS (
           SELECT g FROM g0 GROUP BY g HAVING count(*) > 50
         ), g AS (
           SELECT g0.* FROM g0 ANTI JOIN hot USING (g)
         ), sizes AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS gs FROM g
           GROUP BY doc_id
         ), p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS shared
           FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id
         )
         SELECT id_a, id_b, shared, sa.gs AS n_a, sb.gs AS n_b,
           round(CAST(shared AS DOUBLE) / sa.gs + 1e-9, 6)
             AS containment_a,
           round(CAST(shared AS DOUBLE) / sb.gs + 1e-9, 6)
             AS containment_b
         FROM p JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
         WHERE greatest(round(CAST(shared AS DOUBLE) / sa.gs + 1e-9, 6),
           round(CAST(shared AS DOUBLE) / sb.gs + 1e-9, 6)) >= 0.5
         ORDER BY id_a, id_b""",

    "q281_containment_cap_report" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f]+'),
                         t -> len(t) > 0) AS t
           FROM documents
         ), g0 AS (
           SELECT DISTINCT doc_id, unnest(t) AS gram
           FROM toks WHERE len(t) >= 1
         )
         SELECT gram, CAST(count(*) AS BIGINT) AS doc_freq
         FROM g0 GROUP BY gram HAVING count(*) > 100
         ORDER BY doc_freq DESC, gram""",

    // q282: τ-b replayed on the (quantity, discount) cell grid — the
    // same strict-a / either-b pair convention, BIGINT casts on every
    // integer sum, the τ expression mirrored operation-for-operation.
    "q282_kendall_tau" ->
      """WITH f AS (
           SELECT CAST(l_quantity AS DOUBLE) AS a,
             CAST(l_discount AS DOUBLE) AS b
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
         ), cells AS (
           SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY a, b
         ), pairs AS (
           SELECT
             CAST(COALESCE(sum(CASE WHEN x.b < y.b THEN x.c * y.c END), 0)
               AS BIGINT) AS concordant,
             CAST(COALESCE(sum(CASE WHEN x.b > y.b THEN x.c * y.c END), 0)
               AS BIGINT) AS discordant
           FROM cells x JOIN cells y ON x.a < y.a
         ), m AS (
           SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * (c - 1)) AS BIGINT) AS sxy2
           FROM cells
         ), ta AS (
           SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n1
           FROM (SELECT CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY a)
         ), tb AS (
           SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n2
           FROM (SELECT CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY b)
         )
         SELECT n, CAST(n * (n - 1) // 2 AS BIGINT) AS n0, n1, n2,
           concordant, discordant, CAST(sxy2 // 2 AS BIGINT) AS tied_xy,
           CASE WHEN n * (n - 1) // 2 > n1 AND n * (n - 1) // 2 > n2
             THEN CAST(concordant - discordant AS DOUBLE)
               / sqrt(CAST(n * (n - 1) // 2 - n1 AS DOUBLE)
                    * CAST(n * (n - 1) // 2 - n2 AS DOUBLE))
           END AS tau_b
         FROM m, ta, tb, pairs""",

    // q283: Cliff's δ replayed on the q206 value grid — gt from the
    // strictly-before running count, one exact division.
    "q283_cliffs_delta" ->
      """WITH f AS (
           SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'view')
         ), byv AS (
           SELECT v,
             CAST(count(CASE WHEN g = 'click' THEN 1 END) AS BIGINT) AS ca,
             CAST(count(CASE WHEN g = 'view' THEN 1 END) AS BIGINT) AS cb
           FROM f GROUP BY v
         ), c AS (
           SELECT v, ca, cb,
             CAST(COALESCE(sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cumb
           FROM byv
         ), agg AS (
           SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b,
             COALESCE(sum(CAST(ca AS DOUBLE) * cumb), 0) AS gt,
             COALESCE(sum(CAST(ca AS DOUBLE) * cb), 0) AS ties
           FROM c
         )
         SELECT n_a, n_b, gt,
           CAST(n_a AS DOUBLE) * n_b - gt - ties AS lt, ties,
           CASE WHEN n_a > 0 AND n_b > 0
             THEN (gt - (CAST(n_a AS DOUBLE) * n_b - gt - ties))
               / (CAST(n_a AS DOUBLE) * n_b)
           END AS delta
         FROM agg""",

    // q284: McNemar replayed — the same per-user paired booleans, the
    // Edwards-corrected χ² (exact-int chain, unrounded), and the
    // two-sided exact binomial tail as a lgamma generate_series sum.
    "q284_mcnemar" ->
      """WITH u AS (
           SELECT user_id,
             COALESCE(max(CASE WHEN event_type = 'click' THEN value END)
               > 300, false) AS bf,
             COALESCE(max(CASE WHEN event_type = 'view' THEN value END)
               > 300, false) AS af
           FROM events WHERE user_id IS NOT NULL GROUP BY user_id
         ), cells AS (
           SELECT
             CAST(count(CASE WHEN bf AND af THEN 1 END) AS BIGINT) AS a,
             CAST(count(CASE WHEN bf AND NOT af THEN 1 END) AS BIGINT) AS b,
             CAST(count(CASE WHEN NOT bf AND af THEN 1 END) AS BIGINT) AS c,
             CAST(count(CASE WHEN NOT bf AND NOT af THEN 1 END) AS BIGINT)
               AS d
           FROM u
         ), ks AS (
           SELECT b + c AS m, unnest(range(0, least(b, c) + 1)) AS k
           FROM cells
         ), p AS (
           SELECT least(1.0, 2 * sum(exp(
             lgamma(m + 1) - lgamma(k + 1) - lgamma(m - k + 1)
               - m * ln(2)))) AS p_exact
           FROM ks
         )
         SELECT CAST(a + b + c + d AS BIGINT) AS n, a, b, c, d,
           CASE WHEN b + c > 0
             THEN CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
               / (b + c)
           END AS chi2,
           round((SELECT p_exact FROM p) + 1e-9, 6) AS p_exact
         FROM cells""",

    // q285: Cochran's Q replayed — per-(subject, treatment) any-success
    // cells, the all-integer moment identity, one exact division.
    "q285_cochran_q" ->
      """WITH base AS (
           SELECT user_id AS s, event_type AS t,
             CAST(max(CASE WHEN value > 350 THEN 1 ELSE 0 END) AS BIGINT)
               AS x
           FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL
           GROUP BY user_id, event_type
         ), kk AS (
           SELECT CAST(count(DISTINCT t) AS BIGINT) AS k,
             CAST(count(DISTINCT s) AS BIGINT) AS n_subjects
           FROM base
         ), g AS (
           SELECT CAST(sum(gg) AS BIGINT) AS n,
             CAST(sum(gg * gg) AS BIGINT) AS sg2
           FROM (SELECT CAST(sum(x) AS BIGINT) AS gg FROM base GROUP BY t)
         ), l AS (
           SELECT CAST(sum(ll) AS BIGINT) AS sl,
             CAST(sum(ll * ll) AS BIGINT) AS sl2
           FROM (SELECT CAST(sum(x) AS BIGINT) AS ll FROM base GROUP BY s)
         )
         SELECT n_subjects, k, n, CAST(k - 1 AS BIGINT) AS df,
           CASE WHEN k >= 2 AND k * sl - sl2 > 0
             THEN CAST((k - 1) * (k * sg2 - n * n) AS DOUBLE)
               / (k * sl - sl2)
           END AS q
         FROM kk, g, l""",

    // q292: generated unrolled DTW DP (24 stages, alternating column
    // prefixes; see dtwOracleSql).
    "q292_dtw_pairs" -> dtwOracleSql(len = 24),

    // q316: Fleiss replayed — same first-3 ranking, per-subject and
    // per-category integer moments, one IEEE chain.
    "q316_fleiss_kappa" ->
      """WITH r AS (
           SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS rn
           FROM events WHERE user_id IS NOT NULL
         ), f AS (
           SELECT user_id, event_type FROM r WHERE rn <= 3
         ), cells AS (
           SELECT user_id AS s, event_type AS c,
             CAST(count(*) AS BIGINT) AS n
           FROM f GROUP BY user_id, event_type
         ), subj AS (
           SELECT CAST(count(*) AS BIGINT) AS n_subjects,
             CAST(max(ni) AS BIGINT) AS nn,
             CAST(sum(ni2) AS BIGINT) AS sni2
           FROM (SELECT s, CAST(sum(n) AS BIGINT) AS ni,
                   CAST(sum(n * n) AS BIGINT) AS ni2
                 FROM cells GROUP BY s)
         ), cat AS (
           SELECT CAST(count(*) AS BIGINT) AS k_categories,
             CAST(sum(cj * cj) AS BIGINT) AS scj2
           FROM (SELECT c, CAST(sum(n) AS BIGINT) AS cj
                 FROM cells GROUP BY c)
         ), sel AS (
           SELECT n_subjects, nn, k_categories,
             CASE WHEN nn >= 2 THEN
               CAST(sni2 - n_subjects * nn AS DOUBLE)
                 / CAST(n_subjects * nn * (nn - 1) AS DOUBLE)
             END AS p_bar,
             CASE WHEN n_subjects > 0 AND nn > 0 THEN
               CAST(scj2 AS DOUBLE) / (CAST(n_subjects * nn AS DOUBLE)
                 * CAST(n_subjects * nn AS DOUBLE))
             END AS p_e
           FROM subj, cat
         )
         SELECT n_subjects, CAST(nn AS INT) AS n_per_subject,
           k_categories, p_bar, p_e,
           CASE WHEN p_e < 1.0
             THEN (p_bar - p_e) / (1.0 - p_e) END AS kappa
         FROM sel""",

    // q314: Newman categorical assortativity replayed — label² cells,
    // marginal products, the same cast points.
    "q314_attr_assortativity" ->
      """WITH m AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), pr AS (
           SELECT a.s AS x, b.s AS y FROM m a JOIN m b
             ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 150
         ), e AS (
           SELECT x AS src, y AS dst FROM pr
           UNION ALL SELECT y, x FROM pr
         ), nd AS (SELECT DISTINCT src AS node FROM e
         ), lab AS (SELECT node, node % 4 AS c FROM nd
         ), cells AS (
           SELECT ls.c AS cs, ld.c AS cd, CAST(count(*) AS BIGINT) AS n
           FROM e JOIN lab ls ON ls.node = e.src
             JOIN lab ld ON ld.node = e.dst
           GROUP BY ls.c, ld.c
         ), rows_ AS (
           SELECT cs AS c, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY cs
         ), cols_ AS (
           SELECT cd AS c, CAST(sum(n) AS BIGINT) AS cl FROM cells GROUP BY cd
         ), ab AS (
           SELECT CAST(COALESCE(sum(COALESCE(r, 0) * COALESCE(cl, 0)), 0)
             AS BIGINT) AS sab
           FROM rows_ FULL JOIN cols_ USING (c)
         ), agg AS (
           SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) AS m,
             CAST(COALESCE(sum(CASE WHEN cs = cd THEN n END), 0)
               AS BIGINT) AS same
           FROM cells
         ), sel AS (
           SELECT m,
             CASE WHEN m > 0 THEN CAST(same AS DOUBLE) / m END
               AS same_share,
             CASE WHEN m > 0 THEN CAST(sab AS DOUBLE)
               / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) END
               AS expected_share
           FROM agg, ab
         )
         SELECT m, same_share, expected_share,
           CASE WHEN expected_share < 1.0
             THEN (same_share - expected_share) / (1.0 - expected_share)
           END AS r
         FROM sel""",

    // q315: Cohen's kappa replayed on the q31 langid predictions.
    "q315_cohens_kappa" ->
      ("WITH p AS (" + langIdOracleSql + """)
         , j AS (
           SELECT CAST(d.lang AS VARCHAR) AS a,
             CAST(p.lang_pred AS VARCHAR) AS b
           FROM documents d JOIN p ON p.doc_id = d.doc_id
           WHERE d.lang IS NOT NULL AND p.lang_pred IS NOT NULL
         ), cells AS (
           SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY a, b
         ), rows_ AS (
           SELECT a AS c, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY a
         ), cols_ AS (
           SELECT b AS c, CAST(sum(n) AS BIGINT) AS cl FROM cells GROUP BY b
         ), ab AS (
           SELECT CAST(COALESCE(sum(COALESCE(r, 0) * COALESCE(cl, 0)), 0)
             AS BIGINT) AS sab
           FROM rows_ FULL JOIN cols_ USING (c)
         ), agg AS (
           SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) AS n,
             CAST(COALESCE(sum(CASE WHEN a = b THEN n END), 0)
               AS BIGINT) AS agree
           FROM cells
         ), sel AS (
           SELECT n,
             CASE WHEN n > 0 THEN CAST(agree AS DOUBLE) / n END
               AS p_observed,
             CASE WHEN n > 0 THEN CAST(sab AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) END
               AS p_expected
           FROM agg, ab
         )
         SELECT n, p_observed, p_expected,
           CASE WHEN p_expected < 1.0
             THEN (p_observed - p_expected) / (1.0 - p_expected)
           END AS kappa
         FROM sel"""),

    // q313: the reliability curve replayed — same clamp/bin/rate
    // arithmetic over a fixed bin frame.
    "q313_calibration" ->
      """WITH f AS (
           SELECT least(1.0, value / 500) AS s, value > 300 AS y
           FROM events WHERE value IS NOT NULL
         ), b AS (
           SELECT CAST(least(9, floor(s * 10)) AS INT) AS bin, s, y
           FROM f WHERE s >= 0 AND s <= 1
         ), agg AS (
           SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(COALESCE(sum(CASE WHEN y THEN 1 END), 0) AS BIGINT)
               AS n_pos,
             avg(s) AS mean_score
           FROM b GROUP BY bin
         ), frame AS (
           SELECT CAST(unnest(range(0, 10)) AS INT) AS bin
         )
         SELECT frame.bin,
           CAST(frame.bin AS DOUBLE) / 10 AS bin_lo,
           CAST(frame.bin + 1 AS DOUBLE) / 10 AS bin_hi,
           CAST(COALESCE(n, 0) AS BIGINT) AS n,
           CAST(COALESCE(n_pos, 0) AS BIGINT) AS n_pos,
           round(mean_score + 1e-9, 6) AS mean_score,
           CASE WHEN n > 0 THEN CAST(n_pos AS DOUBLE) / n END AS rate
         FROM frame LEFT JOIN agg ON agg.bin = frame.bin
         ORDER BY frame.bin""",

    // q310: the hygiene screen replayed — same fold order for the sum
    // of squares, same grid percentile picks.
    "q310_embedding_health" ->
      """WITH e AS (
           SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         ), w AS (
           SELECT v,
             CASE WHEN v IS NOT NULL THEN CAST(len(v) AS INT) END AS dim,
             CASE WHEN v IS NOT NULL THEN
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(v, x -> x * x)), (a, b) -> a + b)
             END AS ss
           FROM e
         ), st AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(CASE WHEN v IS NULL THEN 1 END) AS BIGINT)
               AS n_null,
             CAST(count(CASE WHEN ss = 0 THEN 1 END) AS BIGINT)
               AS n_zero_norm,
             CAST(count(DISTINCT dim) AS BIGINT) AS n_dims,
             min(dim) AS dim_min, max(dim) AS dim_max
           FROM w
         ), g AS (
           SELECT sqrt(ss) AS nv, CAST(count(*) AS BIGINT) AS t
           FROM w WHERE ss IS NOT NULL GROUP BY sqrt(ss)
         ), c AS (
           SELECT nv, t,
             CAST(sum(t) OVER (ORDER BY nv ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
             CAST(sum(t) OVER () AS BIGINT) AS n
           FROM g
         )
         SELECT st.n, st.n_null, st.n_zero_norm, st.n_dims,
           st.dim_min, st.dim_max,
           round((SELECT nv FROM c
             WHERE c >= greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
               AND c - t < greatest(1, CAST(ceil(0.5 * n) AS BIGINT)))
             + 1e-9, 6) AS norm_p50,
           round((SELECT nv FROM c
             WHERE c >= greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
               AND c - t < greatest(1, CAST(ceil(0.95 * n) AS BIGINT)))
             + 1e-9, 6) AS norm_p95
         FROM st""",

    // q311: the q280 replay split across two corpus halves, df cap on
    // the reference side only.
    "q311_containment_against" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f]+'),
                         t -> len(t) > 0) AS t
           FROM documents
         ), g0 AS (
           SELECT DISTINCT doc_id,
             unnest([array_to_string(t[i:i+4], ' ')
                     for i in range(1, len(t) - 3)]) AS g
           FROM toks WHERE len(t) >= 5
         ), hot AS (
           SELECT g FROM g0 WHERE doc_id % 2 = 0
           GROUP BY g HAVING count(*) > 50
         ), gref AS (
           SELECT g0.* FROM g0 ANTI JOIN hot USING (g)
           WHERE doc_id % 2 = 0
         ), gnew AS (
           SELECT g0.* FROM g0 ANTI JOIN hot USING (g)
           WHERE doc_id % 2 = 1
         ), sn AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS gs FROM gnew
           GROUP BY doc_id
         ), sr AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS gs FROM gref
           GROUP BY doc_id
         ), p AS (
           SELECT a.doc_id AS id_new, b.doc_id AS id_ref,
             CAST(count(*) AS BIGINT) AS shared
           FROM gnew a JOIN gref b ON a.g = b.g
           GROUP BY a.doc_id, b.doc_id
         )
         SELECT id_new, id_ref, shared, sn.gs AS n_new, sr.gs AS n_ref,
           round(CAST(shared AS DOUBLE) / sn.gs + 1e-9, 6)
             AS containment_new,
           round(CAST(shared AS DOUBLE) / sr.gs + 1e-9, 6)
             AS containment_ref
         FROM p JOIN sn ON sn.doc_id = id_new
           JOIN sr ON sr.doc_id = id_ref
         WHERE greatest(round(CAST(shared AS DOUBLE) / sn.gs + 1e-9, 6),
           round(CAST(shared AS DOUBLE) / sr.gs + 1e-9, 6)) >= 0.5
         ORDER BY id_new, id_ref""",

    // q307: one-sample t replayed — exact moments, same descale points.
    "q307_one_sample_t" ->
      """WITH f AS (
           SELECT round(value * 100) AS v FROM events
           WHERE value IS NOT NULL AND event_type = 'click'
         ), a AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             COALESCE(sum(v), 0) AS s, COALESCE(sum(v * v), 0) AS s2
           FROM f
         ), st AS (
           SELECT n, CASE WHEN n > 0 THEN s / n END AS mean,
             CASE WHEN n >= 2
               THEN greatest(s2 - s * s / n, 0.0) / (n - 1) END AS var
           FROM a
         ), sel AS (
           SELECT n, mean, var,
             CASE WHEN n >= 2 AND var > 0 THEN sqrt(var / n) END AS se
           FROM st
         )
         SELECT n, mean / 100 AS mean, var / 10000 AS var,
           se / 100 AS se, (mean - 24500.0) / se AS t,
           CAST(n - 1 AS BIGINT) AS df
         FROM sel""",

    // q308: the q209 attribution CTEs + the per-channel ceil(p*n)
    // grid percentile pick.
    "q308_conversion_lag" ->
      """WITH f AS (
           SELECT user_id, event_id, event_type AS t, epoch_us(ts) AS us
           FROM events
           WHERE ts IS NOT NULL
             AND event_type IN ('purchase', 'click', 'view')
         ), l AS (
           SELECT *,
             last_value(CASE WHEN t IN ('click', 'view') THEN t END
               IGNORE NULLS) OVER w AS lt,
             last_value(CASE WHEN t IN ('click', 'view') THEN us END
               IGNORE NULLS) OVER w AS lus
           FROM f
           WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         ), conv AS (
           SELECT
             CASE WHEN lus IS NOT NULL AND us - lus <= 259200000000
               THEN lt END AS touch_type,
             CASE WHEN lus IS NOT NULL AND us - lus <= 259200000000
               THEN CAST((us - lus) // 1000000 AS BIGINT) END AS gap_sec
           FROM l WHERE t = 'purchase'
         ), g AS (
           SELECT touch_type, gap_sec, CAST(count(*) AS BIGINT) AS t
           FROM conv WHERE touch_type IS NOT NULL
           GROUP BY touch_type, gap_sec
         ), c AS (
           SELECT *,
             CAST(sum(t) OVER (PARTITION BY touch_type ORDER BY gap_sec
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS c,
             CAST(sum(t) OVER (PARTITION BY touch_type) AS BIGINT) AS n
           FROM g
         ), ps AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p)
         SELECT touch_type, p, n, gap_sec AS lag_sec
         FROM c, ps
         WHERE c >= greatest(1, CAST(ceil(p * n) AS BIGINT))
           AND c - t < greatest(1, CAST(ceil(p * n) AS BIGINT))
         ORDER BY touch_type, p""",

    // q309: the portable-hash fold assignment replayed.
    "q309_kfold" ->
      """SELECT doc_id,
           CAST(CAST(('0x' || substring(md5('cv§' ||
             CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS INT)
             AS fold
         FROM documents ORDER BY doc_id""",

    // q306: the streaming drift monitor replayed in SQL — the q295
    // fold per event in (ts micros, event_id) order, no grid.
    "q306_stream_drift" ->
      """WITH f AS (
           SELECT event_type, event_id, epoch_us(ts) AS tus,
             round(value * 100) AS v
           FROM events
           WHERE ts IS NOT NULL AND value IS NOT NULL
             AND event_type IS NOT NULL
         ), pre AS (
           SELECT event_type, event_id, tus, CAST(v AS BIGINT) AS iv,
             CAST(row_number() OVER wo AS BIGINT) AS t,
             CAST(sum(CAST(v AS BIGINT)) OVER wr AS BIGINT) AS s
           FROM f
           WINDOW wo AS (PARTITION BY event_type ORDER BY tus, event_id),
           wr AS (PARTITION BY event_type ORDER BY tus, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ), term AS (
           SELECT event_type, event_id, tus, iv,
             CAST(iv AS DOUBLE) - CAST(s AS DOUBLE) / t - 0.0 AS term
           FROM pre
         ), m AS (
           SELECT event_type, event_id, tus, iv,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(term) OVER (PARTITION BY event_type
                 ORDER BY tus, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
               (acc, e) -> acc + e) AS m
           FROM term
         ), mm AS (
           SELECT *, min(m) OVER (PARTITION BY event_type
             ORDER BY tus, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
           FROM m
         )
         SELECT event_type, event_id, CAST(iv AS DOUBLE) / 100 AS value,
           round(m / 100 + 1e-9, 4) AS ph_m,
           round((m - mn) / 100 + 1e-9, 4) AS ph,
           round((m - mn) / 100 + 1e-12, 9) > 500.0 AS alarm
         FROM mm ORDER BY event_type, event_id""",

    // q304: conductance replayed — label-tagged edges, per-community
    // volume/cut, the min-volume division.
    "q304_conductance" ->
      """WITH m AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), pr AS (
           SELECT a.s AS x, b.s AS y FROM m a JOIN m b
             ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 150
         ), e AS (
           SELECT x AS src, y AS dst FROM pr
           UNION ALL SELECT y, x FROM pr
         ), nd AS (
           SELECT DISTINCT src AS node FROM e
         ), lab AS (
           SELECT node, node % 4 AS c FROM nd
         ), tagged AS (
           SELECT ls.c AS cs, ld.c AS cd
           FROM e JOIN lab ls ON ls.node = e.src
             JOIN lab ld ON ld.node = e.dst
         ), tot AS (
           SELECT CAST(count(*) AS BIGINT) AS mm FROM tagged
         ), per AS (
           SELECT cs AS community, CAST(count(*) AS BIGINT) AS volume,
             CAST(COALESCE(sum(CASE WHEN cs <> cd THEN 1 END), 0)
               AS BIGINT) AS cut
           FROM tagged GROUP BY cs
         ), sizes AS (
           SELECT c AS community, CAST(count(*) AS BIGINT) AS n_nodes
           FROM lab GROUP BY c
         )
         SELECT s.community, s.n_nodes,
           CAST(COALESCE(volume, 0) AS BIGINT) AS volume,
           CAST(COALESCE(cut, 0) AS BIGINT) AS cut,
           CASE WHEN least(COALESCE(volume, 0),
               mm - COALESCE(volume, 0)) > 0
             THEN CAST(COALESCE(cut, 0) AS DOUBLE)
               / least(COALESCE(volume, 0), mm - COALESCE(volume, 0))
           END AS conductance
         FROM sizes s LEFT JOIN per ON per.community = s.community, tot
         ORDER BY s.community""",

    // q305: the q233 decomposition + per-type residual median/MAD grid
    // medians + the rounded-z threshold replay.
    "q305_stl_anomaly" ->
      """WITH cells AS (
           SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             sum(round(value * 100)) AS v
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, b
         ), spans AS (
           SELECT event_type, min(b) AS lo, max(b) AS hi FROM cells
           GROUP BY event_type
         ), grid AS (
           SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
           FROM spans
         ), f AS (
           SELECT g.event_type, g.b, coalesce(c.v, 0) AS v
           FROM grid g LEFT JOIN cells c
             ON c.event_type = g.event_type AND c.b = g.b
         ), o AS (
           SELECT event_type, b, v,
             CAST((row_number() OVER w - 1) % 24 AS INT) AS phase,
             count(v) OVER wt AS wn,
             sum(v) OVER wt AS ws
           FROM f
           WINDOW w AS (PARTITION BY event_type ORDER BY b),
           wt AS (PARTITION BY event_type ORDER BY b
             ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
         ), t AS (
           SELECT *,
             CASE WHEN wn = 24 THEN ws / 24.0 END AS trend,
             CASE WHEN wn = 24 THEN v * 24 - ws END AS dnum
           FROM o
         ), pa AS (
           SELECT event_type, phase, sum(dnum) AS snum,
             CAST(count(*) AS BIGINT) AS sn
           FROM t WHERE dnum IS NOT NULL GROUP BY event_type, phase
         ), pav AS (
           SELECT event_type, phase, snum / (sn * 24.0) AS sraw FROM pa
         ), ctr AS (
           SELECT event_type, sum(sraw) / count(*) AS center
           FROM pav GROUP BY event_type
         ), seas AS (
           SELECT pav.event_type, pav.phase, sraw - center AS seasonal
           FROM pav JOIN ctr ON ctr.event_type = pav.event_type
         ), comp AS (
           SELECT t.event_type, t.b, t.v,
             CASE WHEN t.trend IS NOT NULL
               THEN v - t.trend - s.seasonal END AS residual
           FROM t LEFT JOIN seas s
             ON s.event_type = t.event_type AND s.phase = t.phase
         ), g1 AS (
           SELECT event_type, residual AS rv, CAST(count(*) AS BIGINT) AS t
           FROM comp WHERE residual IS NOT NULL GROUP BY event_type, residual
         ), c1 AS (
           SELECT event_type, rv, t,
             CAST(sum(t) OVER (PARTITION BY event_type ORDER BY rv ROWS
               BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
             CAST(sum(t) OVER (PARTITION BY event_type) AS BIGINT) AS n
           FROM g1
         ), medt AS (
           SELECT m1.event_type, (v1 + v2) / 2 AS med FROM
             (SELECT event_type, rv AS v1 FROM c1
              WHERE c >= (n + 1) // 2 AND c - t < (n + 1) // 2) m1
             JOIN
             (SELECT event_type, rv AS v2 FROM c1
              WHERE c >= n // 2 + 1 AND c - t < n // 2 + 1) m2
             ON m1.event_type = m2.event_type
         ), g2 AS (
           SELECT comp.event_type, abs(residual - med) AS dv,
             CAST(count(*) AS BIGINT) AS t
           FROM comp JOIN medt ON medt.event_type = comp.event_type
           WHERE residual IS NOT NULL
           GROUP BY comp.event_type, abs(residual - med)
         ), c2 AS (
           SELECT event_type, dv, t,
             CAST(sum(t) OVER (PARTITION BY event_type ORDER BY dv ROWS
               BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
             CAST(sum(t) OVER (PARTITION BY event_type) AS BIGINT) AS n
           FROM g2
         ), madt AS (
           SELECT m1.event_type, (d1 + d2) / 2 AS mad FROM
             (SELECT event_type, dv AS d1 FROM c2
              WHERE c >= (n + 1) // 2 AND c - t < (n + 1) // 2) m1
             JOIN
             (SELECT event_type, dv AS d2 FROM c2
              WHERE c >= n // 2 + 1 AND c - t < n // 2 + 1) m2
             ON m1.event_type = m2.event_type
         ), z AS (
           SELECT comp.event_type, comp.b, comp.v, comp.residual,
             CASE WHEN comp.residual IS NOT NULL AND madt.mad > 0
               THEN round(0.6745 * (comp.residual - medt.med) / madt.mad
                 + 1e-12, 9) END AS z
           FROM comp
           LEFT JOIN medt ON medt.event_type = comp.event_type
           LEFT JOIN madt ON madt.event_type = comp.event_type
         )
         SELECT event_type,
           TIMESTAMP '1970-01-01 00:00:00' + b * INTERVAL 1 SECOND
             AS bucket_ts,
           round(v / 100.0, 4) AS value,
           round(residual / 100.0 + 1e-9, 4) AS residual,
           round(z + 1e-9, 4) AS z,
           COALESCE(abs(z) > 3.5, false) AS anomaly
         FROM z ORDER BY event_type, bucket_ts""",

    // q302: the portable-hash negative draw replayed — positives kept,
    // negatives ranked by (md5 hash, id) with the ceil-coupled budget.
    "q302_negative_sample" ->
      """WITH d AS (
           SELECT doc_id, COALESCE(n_chars > 400, false) AS label
           FROM documents
         ), pos AS (
           SELECT doc_id, label FROM d WHERE label
         ), npos AS (
           SELECT CAST(ceil(0.5 * count(*)) AS BIGINT) AS k FROM pos
         ), neg AS (
           SELECT doc_id, label,
             CAST(('0x' || substring(md5('0§' || CAST(doc_id AS VARCHAR)),
               1, 15)) AS BIGINT) AS h
           FROM d WHERE NOT label
         ), sel AS (
           SELECT doc_id, label FROM (
             SELECT doc_id, label,
               row_number() OVER (ORDER BY h, doc_id) AS rn
             FROM neg)
           WHERE rn <= (SELECT k FROM npos)
         )
         SELECT doc_id, label FROM (
           SELECT doc_id, label FROM pos
           UNION ALL SELECT doc_id, label FROM sel)
         ORDER BY doc_id""",

    // q303: the randomization test replayed — same md5 Bernoulli
    // assignment, same per-round exact means, same rounded-boundary
    // extreme count.
    "q303_permutation" ->
      """WITH f AS (
           SELECT event_id, event_type AS g, round(value * 100) AS v
           FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'view')
         ), obs AS (
           SELECT
             CAST(count(CASE WHEN g = 'click' THEN 1 END) AS BIGINT) AS n_a,
             CAST(count(CASE WHEN g = 'view' THEN 1 END) AS BIGINT) AS n_b,
             COALESCE(sum(CASE WHEN g = 'click' THEN v END), 0)
               / count(CASE WHEN g = 'click' THEN 1 END)
             - COALESCE(sum(CASE WHEN g = 'view' THEN v END), 0)
               / count(CASE WHEN g = 'view' THEN 1 END) AS diff_obs
           FROM f
         ), p AS (
           SELECT b.b, f.v,
             CAST(('0x' || substring(md5('perm§' || CAST(b.b AS VARCHAR)
               || '§' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM f, (SELECT unnest(range(0, 200)) AS b) b
         ), asg AS (
           SELECT b, v,
             (h // 128 + 1) / 9007199254740992.0 <
               CAST((SELECT n_a FROM obs) AS DOUBLE)
                 / ((SELECT n_a FROM obs) + (SELECT n_b FROM obs)) AS toA
           FROM p
         ), per AS (
           SELECT b,
             sum(CASE WHEN toA THEN v END)
               / count(CASE WHEN toA THEN 1 END)
             - sum(CASE WHEN NOT toA THEN v END)
               / count(CASE WHEN NOT toA THEN 1 END) AS d
           FROM asg GROUP BY b
         ), ex AS (
           SELECT CAST(COALESCE(sum(CASE WHEN abs(round(d + 1e-12, 9))
             >= abs(round((SELECT diff_obs FROM obs) + 1e-12, 9))
             THEN 1 END), 0) AS BIGINT) AS extreme
           FROM per
         )
         SELECT (SELECT n_a FROM obs) AS n_a,
           (SELECT n_b FROM obs) AS n_b,
           CAST(200 AS INT) AS rounds,
           round((SELECT diff_obs FROM obs) / 100 + 1e-9, 4) AS diff_obs,
           CAST(extreme + 1 AS DOUBLE) / 201 AS p_value
         FROM ex""",

    // q299: the q233 decomposition CTEs + one var_pop aggregation with
    // the same greatest/ratio arithmetic.
    "q299_seasonal_strength" ->
      """WITH cells AS (
           SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             sum(round(value * 100)) AS v
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, b
         ), spans AS (
           SELECT event_type, min(b) AS lo, max(b) AS hi FROM cells
           GROUP BY event_type
         ), grid AS (
           SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
           FROM spans
         ), f AS (
           SELECT g.event_type, g.b, coalesce(c.v, 0) AS v
           FROM grid g LEFT JOIN cells c
             ON c.event_type = g.event_type AND c.b = g.b
         ), o AS (
           SELECT event_type, b, v,
             CAST((row_number() OVER w - 1) % 24 AS INT) AS phase,
             count(v) OVER wt AS wn,
             sum(v) OVER wt AS ws
           FROM f
           WINDOW w AS (PARTITION BY event_type ORDER BY b),
           wt AS (PARTITION BY event_type ORDER BY b
             ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
         ), t AS (
           SELECT *,
             CASE WHEN wn = 24 THEN ws / 24.0 END AS trend,
             CASE WHEN wn = 24 THEN v * 24 - ws END AS dnum
           FROM o
         ), pa AS (
           SELECT event_type, phase, sum(dnum) AS snum,
             CAST(count(*) AS BIGINT) AS sn
           FROM t WHERE dnum IS NOT NULL GROUP BY event_type, phase
         ), pav AS (
           SELECT event_type, phase, snum / (sn * 24.0) AS sraw FROM pa
         ), ctr AS (
           SELECT event_type, sum(sraw) / count(*) AS center
           FROM pav GROUP BY event_type
         ), seas AS (
           SELECT pav.event_type, pav.phase, sraw - center AS seasonal
           FROM pav JOIN ctr ON ctr.event_type = pav.event_type
         ), comp AS (
           SELECT t.event_type, t.trend AS trend, s.seasonal AS seasonal,
             v - t.trend - s.seasonal AS residual
           FROM t LEFT JOIN seas s
             ON s.event_type = t.event_type AND s.phase = t.phase
           WHERE t.trend IS NOT NULL
         )
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_complete,
           round(CASE WHEN var_pop(seasonal + residual) > 0
             THEN greatest(0.0,
               1.0 - var_pop(residual) / var_pop(seasonal + residual))
             END + 1e-9, 4) AS seasonal_strength,
           round(CASE WHEN var_pop(trend + residual) > 0
             THEN greatest(0.0,
               1.0 - var_pop(residual) / var_pop(trend + residual))
             END + 1e-9, 4) AS trend_strength
         FROM comp GROUP BY event_type ORDER BY event_type""",

    // q300: the q204 moment CTEs + the TOST arithmetic with the same
    // margins and cast points.
    "q300_tost" ->
      """WITH f AS (
           SELECT event_type AS g, round(value * 100) AS v FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'view')
         ), a AS (
           SELECT
             CAST(count(CASE WHEN g = 'click' THEN 1 END) AS BIGINT) AS na,
             COALESCE(sum(CASE WHEN g = 'click' THEN v END), 0) AS sa,
             COALESCE(sum(CASE WHEN g = 'click' THEN v * v END), 0) AS s2a,
             CAST(count(CASE WHEN g = 'view' THEN 1 END) AS BIGINT) AS nb,
             COALESCE(sum(CASE WHEN g = 'view' THEN v END), 0) AS sb,
             COALESCE(sum(CASE WHEN g = 'view' THEN v * v END), 0) AS s2b
           FROM f
         ), st AS (
           SELECT na, nb, sa / na AS ma, sb / nb AS mb,
             greatest(s2a - sa * sa / na, 0.0) / (na - 1) AS va,
             greatest(s2b - sb * sb / nb, 0.0) / (nb - 1) AS vb
           FROM a
         ), se AS (
           SELECT *, va / na + vb / nb AS se2,
             sqrt(va / na + vb / nb) AS se, ma - mb AS diff
           FROM st
         )
         SELECT na AS n_a, nb AS n_b,
           round(ma / 100 + 1e-9, 4) AS mean_a,
           round(mb / 100 + 1e-9, 4) AS mean_b,
           round(diff / 100 + 1e-9, 4) AS diff,
           round(se / 100 + 1e-9, 4) AS se,
           round(CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0
             THEN se2 * se2 / ((va / na) * (va / na) / (na - 1)
               + (vb / nb) * (vb / nb) / (nb - 1)) END + 1e-9, 4) AS df,
           round(CASE WHEN na >= 2 AND nb >= 2 AND se > 0
             THEN (diff - (-500.0)) / se END + 1e-9, 4) AS t_lower,
           round(CASE WHEN na >= 2 AND nb >= 2 AND se > 0
             THEN (diff - 500.0) / se END + 1e-9, 4) AS t_upper
         FROM se""",

    // q301: CDC apply replayed — one descending row_number per key,
    // delete ops filtered after the winner is picked.
    "q301_apply_changes" ->
      """WITH log AS (
           SELECT user_id, event_id AS seq,
             CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
             value
           FROM events WHERE user_id IS NOT NULL
         ), r AS (
           SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY seq DESC) AS rn
           FROM log
         )
         SELECT user_id, seq, op, value FROM r
         WHERE rn = 1 AND op NOT IN ('D', 'delete')
         ORDER BY user_id""",

    // q297: Wilcoxon signed-rank replayed — paired totals, the |d|
    // grid with midranks, exact half-integer rank sums, variance with
    // the same double-cast points.
    "q297_wilcoxon" ->
      """WITH u AS (
           SELECT user_id,
             COALESCE(sum(CASE WHEN event_type = 'click'
               THEN round(value * 100) END), 0) AS bf,
             COALESCE(sum(CASE WHEN event_type = 'view'
               THEN round(value * 100) END), 0) AS af
           FROM events WHERE user_id IS NOT NULL GROUP BY user_id
         ), d AS (
           SELECT af - bf AS d FROM u WHERE af - bf <> 0
         ), g AS (
           SELECT abs(d) AS ad, CAST(count(*) AS BIGINT) AS t,
             CAST(count(CASE WHEN d > 0 THEN 1 END) AS BIGINT) AS tp
           FROM d GROUP BY abs(d)
         ), mid AS (
           SELECT ad, t, tp,
             CAST(COALESCE(sum(t) OVER (ORDER BY ad ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               + (t + 1) / 2.0 AS m
           FROM g
         ), agg AS (
           SELECT CAST(COALESCE(sum(t), 0) AS BIGINT) AS n,
             COALESCE(sum(tp * m), 0) AS w_plus,
             COALESCE(sum((t - tp) * m), 0) AS w_minus,
             COALESCE(sum(CAST(t AS DOUBLE) * t * t - t), 0) AS tc
           FROM mid
         ), sel AS (
           SELECT n, w_plus, w_minus,
             CAST(n AS DOUBLE) * (n + 1) / 4 AS e_w,
             CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
               * CAST(n * 2 + 1 AS DOUBLE) / 24
               - tc / 48 AS var_w
           FROM agg
         )
         SELECT n, w_plus, w_minus, e_w, var_w,
           CASE WHEN n > 0 AND var_w > 0
             THEN (w_plus - e_w) / sqrt(var_w) END AS z
         FROM sel""",

    // q298: generated two-phase Brandes unroll (see
    // betweennessOracleSql).
    "q298_betweenness" -> betweennessOracleSql(maxDepth = 6),

    // q294: cohort LTV replayed — per-user cohort window, exact x100
    // revenue cells, running cumulative per cohort, one IEEE chain.
    "q294_cohort_ltv" ->
      """WITH rows_ AS (
           SELECT user_id,
             CAST(floor(epoch(ts) / 604800) * 604800 AS BIGINT) AS b,
             CAST(round(value * 100) AS BIGINT) AS v
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         ), coh AS (
           SELECT user_id, b, v,
             min(b) OVER (PARTITION BY user_id) AS cohort
           FROM rows_
         ), matrix AS (
           SELECT cohort, CAST((b - cohort) // 604800 AS INT) AS age,
             CAST(sum(v) AS BIGINT) AS rev,
             CAST(count(DISTINCT user_id) AS BIGINT) AS active
           FROM coh GROUP BY cohort, age
         ), sizes AS (
           SELECT cohort,
             CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_size
           FROM coh GROUP BY cohort
         ), cum AS (
           SELECT m.cohort, m.age, m.active, s.cohort_size, m.rev,
             CAST(sum(m.rev) OVER (PARTITION BY m.cohort ORDER BY m.age
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cumrev
           FROM matrix m JOIN sizes s ON m.cohort = s.cohort
         )
         SELECT TIMESTAMP '1970-01-01 00:00:00'
             + cohort * INTERVAL 1 SECOND AS cohort_ts,
           age, active, cohort_size,
           CAST(rev AS DOUBLE) / 100 AS revenue,
           CAST(cumrev AS DOUBLE) / 100 AS cum_revenue,
           CAST(cumrev AS DOUBLE) / 100 / cohort_size AS ltv
         FROM cum ORDER BY cohort_ts, age""",

    // q295: Page-Hinkley replayed — the q214 grid, exact prefix sums,
    // per-row mean terms, the m-fold as a prepended-zero left fold
    // (the ewma device), running min, rounded outputs + threshold.
    "q295_page_hinkley" ->
      """WITH cells AS (
           SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             sum(round(value * 100)) AS v
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, b
         ), spans AS (
           SELECT event_type, min(b) AS lo, max(b) AS hi FROM cells
           GROUP BY event_type
         ), grid AS (
           SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
           FROM spans
         ), j AS (
           SELECT g.event_type, g.b, coalesce(c.v, 0.0) AS v
           FROM grid g LEFT JOIN cells c
             ON c.event_type = g.event_type AND c.b = g.b
         ), pre AS (
           SELECT event_type, b, CAST(round(v) AS BIGINT) AS iv,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY b)
               AS BIGINT) AS t,
             CAST(sum(CAST(round(v) AS BIGINT)) OVER (PARTITION BY
               event_type ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS s
           FROM j
         ), term AS (
           SELECT event_type, b, iv,
             CAST(iv AS DOUBLE) - CAST(s AS DOUBLE) / t - 0.0 AS term
           FROM pre
         ), m AS (
           SELECT event_type, b, iv,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(term) OVER (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
               (acc, e) -> acc + e) AS m
           FROM term
         ), mm AS (
           SELECT event_type, b, iv, m,
             min(m) OVER (PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
           FROM m
         )
         SELECT event_type,
           TIMESTAMP '1970-01-01 00:00:00' + b * INTERVAL 1 SECOND
             AS bucket_ts,
           CAST(iv AS DOUBLE) / 1 AS value,
           round(m / 1 + 1e-9, 4) AS ph_m,
           round((m - mn) / 1 + 1e-9, 4) AS ph,
           round((m - mn) / 1 + 1e-12, 9) > 500.0 AS alarm
         FROM mm ORDER BY event_type, bucket_ts""",

    // q296: Jonckheere-Terpstra replayed — the (group, value) cell
    // grid, 2J integral pair counts, the three tie-corrected variance
    // terms with the SAME double-cast points and addition order.
    "q296_jonckheere" ->
      """WITH f AS (
           SELECT CAST(event_type AS VARCHAR) AS g,
             CAST(floor(value / 10) AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
         ), cells AS (
           SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY g, v
         ), pairs AS (
           SELECT CAST(COALESCE(sum(CASE
               WHEN x.v < y.v THEN x.c * y.c * 2
               WHEN x.v = y.v THEN x.c * y.c END), 0) AS BIGINT) AS j2
           FROM cells x JOIN cells y ON x.g < y.g
         ), gm AS (
           SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(nn) AS BIGINT) AS n,
             COALESCE(sum(CAST(nn AS DOUBLE) * nn), 0) AS sn2,
             COALESCE(sum(CAST(nn AS DOUBLE) * (nn - 1) * (nn * 2 + 5)),
               0) AS sn25,
             COALESCE(sum(CAST(nn AS DOUBLE) * (nn - 1)), 0) AS snn1,
             COALESCE(sum(CAST(nn AS DOUBLE) * (nn - 1) * (nn - 2)),
               0) AS snn12
           FROM (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cells GROUP BY g)
         ), tm AS (
           SELECT
             COALESCE(sum(CAST(tt AS DOUBLE) * (tt - 1) * (tt * 2 + 5)),
               0) AS st25,
             COALESCE(sum(CAST(tt AS DOUBLE) * (tt - 1)), 0) AS stt1,
             COALESCE(sum(CAST(tt AS DOUBLE) * (tt - 1) * (tt - 2)),
               0) AS stt12
           FROM (SELECT CAST(sum(c) AS BIGINT) AS tt FROM cells GROUP BY v)
         ), sel AS (
           SELECT n, k,
             CAST(j2 AS DOUBLE) / 2 AS j,
             (CAST(n AS DOUBLE) * n - sn2) / 4 AS e_j,
             (CAST(n AS DOUBLE) * (n - 1) * (n * 2 + 5) - sn25 - st25) / 72
               + snn12 * stt12
                 / (36.0 * (CAST(n AS DOUBLE) * (n - 1) * (n - 2)))
               + snn1 * stt1
                 / (8.0 * (CAST(n AS DOUBLE) * (n - 1))) AS var_j
           FROM gm, tm, pairs
         )
         SELECT n, k, j, e_j, var_j,
           CASE WHEN k >= 2 AND var_j > 0
             THEN (j - e_j) / sqrt(var_j) END AS z
         FROM sel""",

    // q293: generated 3-iteration weighted-PageRank replay over the
    // token co-occurrence graph (see textrankOracleSql).
    "q293_textrank" -> textrankOracleSql(iterations = 3, topK = 15),

    // q290: the three regex counts replayed (regexp_extract_all is the
    // q280-proven tokenizer device) + the same score arithmetic.
    "q290_readability" ->
      """WITH f AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[^ \t\n\r\f]+'))
               AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[.!?]+'))
               AS BIGINT) AS sraw,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS n_syllables
           FROM documents WHERE text IS NOT NULL
         ), g AS (
           SELECT doc_id, n_words,
             CAST(CASE WHEN n_words > 0 THEN greatest(1, sraw)
                  ELSE 0 END AS BIGINT) AS n_sentences,
             n_syllables
           FROM f
         )
         SELECT doc_id, n_words, n_sentences, n_syllables,
           CASE WHEN n_words > 0 THEN
             206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
               - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
           END AS flesch,
           CASE WHEN n_words > 0 THEN
             0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
               + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59
           END AS fk_grade
         FROM g ORDER BY doc_id""",

    // q291: grid medians (the q249 device) for median and MAD, then
    // the rounded-z threshold replayed.
    "q291_mad_outliers" ->
      """WITH base AS (
           SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL
         ), grid AS (
           SELECT g, v, CAST(count(*) AS BIGINT) AS t FROM base
           GROUP BY g, v
         ), cum AS (
           SELECT g, v, t,
             CAST(sum(t) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
             CAST(sum(t) OVER (PARTITION BY g) AS BIGINT) AS n
           FROM grid
         ), med AS (
           SELECT m1.g, (v1 + v2) / 2 AS med FROM
             (SELECT g, v AS v1 FROM cum
              WHERE c >= (n + 1) // 2 AND c - t < (n + 1) // 2) m1
             JOIN
             (SELECT g, v AS v2 FROM cum
              WHERE c >= n // 2 + 1 AND c - t < n // 2 + 1) m2
             ON m1.g = m2.g
         ), wm AS (
           SELECT base.g, v, med, abs(v - med) AS d
           FROM base JOIN med ON base.g = med.g
         ), grid2 AS (
           SELECT g, d, CAST(count(*) AS BIGINT) AS t FROM wm
           GROUP BY g, d
         ), cum2 AS (
           SELECT g, d, t,
             CAST(sum(t) OVER (PARTITION BY g ORDER BY d ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
             CAST(sum(t) OVER (PARTITION BY g) AS BIGINT) AS n
           FROM grid2
         ), madt AS (
           SELECT m1.g, (d1 + d2) / 2 AS mad FROM
             (SELECT g, d AS d1 FROM cum2
              WHERE c >= (n + 1) // 2 AND c - t < (n + 1) // 2) m1
             JOIN
             (SELECT g, d AS d2 FROM cum2
              WHERE c >= n // 2 + 1 AND c - t < n // 2 + 1) m2
             ON m1.g = m2.g
         ), z AS (
           SELECT wm.g, wm.med, madt.mad,
             CASE WHEN madt.mad > 0 THEN
               round(0.6745 * (v - wm.med) / madt.mad + 1e-12, 9)
             END AS z
           FROM wm JOIN madt ON wm.g = madt.g
         )
         SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n,
           any_value(med) AS median, any_value(mad) AS mad,
           CAST(COALESCE(sum(CASE WHEN abs(z) > 3.5 THEN 1 END), 0)
             AS BIGINT) AS n_outliers,
           max(abs(z)) AS max_abs_z
         FROM z GROUP BY g ORDER BY event_type""",

    // q286: HL shift replayed — value grids per group, the difference
    // grid with pair weights, weighted lower/upper middles averaged.
    "q286_hodges_lehmann" ->
      """WITH f AS (
           SELECT event_type AS g, round(value) AS v FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'view')
         ), ga AS (
           SELECT v, CAST(count(*) AS BIGINT) AS ca FROM f
           WHERE g = 'click' GROUP BY v
         ), gb AS (
           SELECT v, CAST(count(*) AS BIGINT) AS cb FROM f
           WHERE g = 'view' GROUP BY v
         ), d AS (
           SELECT ga.v - gb.v AS d, CAST(sum(ca * cb) AS BIGINT) AS w
           FROM ga, gb GROUP BY ga.v - gb.v
         ), c AS (
           SELECT d, w,
             CAST(sum(w) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
             CAST(sum(w) OVER () AS BIGINT) AS n
           FROM d
         ), lo AS (
           SELECT d AS d1, n FROM c
           WHERE c >= (n + 1) // 2 AND c - w < (n + 1) // 2
         ), hi AS (
           SELECT d AS d2 FROM c
           WHERE c >= n // 2 + 1 AND c - w < n // 2 + 1
         ), cnt AS (
           SELECT
             CAST(count(CASE WHEN g = 'click' THEN 1 END) AS BIGINT) AS n_a,
             CAST(count(CASE WHEN g = 'view' THEN 1 END) AS BIGINT) AS n_b
           FROM f
         )
         SELECT n_a, n_b,
           CAST(COALESCE((SELECT n FROM lo), 0) AS DOUBLE) AS n_pairs,
           (SELECT (d1 + d2) / 2 FROM lo, hi) AS hl_shift
         FROM cnt""",

    // q287: the exact Beta-Binomial closed-form sum (Cook's identity)
    // replayed with lgamma over generate_series; posterior means are
    // exact-long divisions, gated unrounded.
    "q287_bayesian_ab" ->
      """WITH f AS (
           SELECT event_type AS g, value > 300 AS s FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'view')
         ), cnt AS (
           SELECT
             CAST(count(CASE WHEN g = 'click' THEN 1 END) AS BIGINT) AS n_a,
             CAST(count(CASE WHEN g = 'click' AND s THEN 1 END) AS BIGINT)
               AS s_a,
             CAST(count(CASE WHEN g = 'view' THEN 1 END) AS BIGINT) AS n_b,
             CAST(count(CASE WHEN g = 'view' AND s THEN 1 END) AS BIGINT)
               AS s_b
           FROM f
         ), par AS (
           SELECT *, 1 + s_a AS aa, 1 + n_a - s_a AS ba,
             1 + s_b AS ab, 1 + n_b - s_b AS bb
           FROM cnt
         ), terms AS (
           SELECT aa, ba, ab, bb, unnest(range(0, ab)) AS i FROM par
         ), p AS (
           SELECT least(1.0, sum(exp(
             (lgamma(aa + i) + lgamma(ba + bb) - lgamma(aa + i + ba + bb))
             - ln(bb + i)
             - (lgamma(1 + i) + lgamma(bb) - lgamma(1 + i + bb))
             - (lgamma(aa) + lgamma(ba) - lgamma(aa + ba))))) AS prob
           FROM terms
         )
         SELECT n_a, s_a, n_b, s_b,
           CAST(aa AS DOUBLE) / (aa + ba) AS mean_a,
           CAST(ab AS DOUBLE) / (ab + bb) AS mean_b,
           round((SELECT prob FROM p) + 1e-9, 6) AS prob_b_beats_a,
           round(CAST(ab AS DOUBLE) / (ab + bb)
             - CAST(aa AS DOUBLE) / (aa + ba) + 1e-9, 6) AS expected_lift
         FROM par""",

    // q288: the MDE/power formulas replayed operation-for-operation
    // with the same explicit z-quantile literals.
    "q288_power_mde" ->
      """WITH f AS (
           SELECT event_type AS g, value > 300 AS s FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'view')
         ), cnt AS (
           SELECT
             CAST(count(CASE WHEN g = 'click' THEN 1 END) AS BIGINT) AS n_a,
             CAST(count(CASE WHEN g = 'click' AND s THEN 1 END) AS BIGINT)
               AS s_a,
             CAST(count(CASE WHEN g = 'view' THEN 1 END) AS BIGINT) AS n_b
           FROM f
         ), sel AS (
           SELECT n_a, s_a, n_b,
             CAST(s_a AS DOUBLE) / n_a AS p,
             least(n_a, n_b) AS n,
             1.9599639845400545 + 0.8416212335729143 AS z
           FROM cnt
         ), sel2 AS (
           SELECT *, p * (1.0 - p) AS v FROM sel
         )
         SELECT n_a, s_a, n_b, p AS p_a,
           CASE WHEN v > 0 AND n > 0
             THEN z * sqrt(2.0 * v / n) END AS mde_abs,
           CASE WHEN v > 0 AND n > 0
             THEN z * sqrt(2.0 * v / n) / p END AS mde_rel,
           CASE WHEN v > 0
             THEN CAST(ceil(2.0 * v * pow(z / (p * 0.1), 2)) AS BIGINT)
           END AS n_required
         FROM sel2""",

    // q289: Mann-Kendall replayed on the q268 point device — pair
    // signs in time order, tie-run variance moments, the +/-1
    // continuity z.
    "q289_mann_kendall" ->
      """WITH base AS (
           SELECT user_id AS k, epoch_us(ts) AS t,
             CAST(round(value * 100) AS BIGINT) AS v
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         ), pts AS (
           SELECT k, t, v,
             row_number() OVER (PARTITION BY k ORDER BY t DESC, v DESC) AS r
           FROM base QUALIFY r <= 1000
         ), sgn AS (
           SELECT a.k,
             CAST(sum(sign(b.v - a.v)
               * CASE WHEN b.t > a.t THEN 1 ELSE -1 END) AS BIGINT) AS s
           FROM pts a JOIN pts b
             ON a.k = b.k AND a.r < b.r AND a.t <> b.t
           GROUP BY a.k
         ), ties AS (
           SELECT k,
             CAST(sum(t2 * (t2 - 1) * (2 * t2 + 5)) AS BIGINT) AS tc,
             CAST(sum(t2) AS BIGINT) AS n_points
           FROM (SELECT k, CAST(count(*) AS BIGINT) AS t2 FROM pts
                 GROUP BY k, v)
           GROUP BY k
         ), j AS (
           SELECT ties.k AS k, n_points,
             CAST(COALESCE(sgn.s, 0) AS BIGINT) AS s,
             n_points * (n_points - 1) * (2 * n_points + 5) - tc AS vv
           FROM ties LEFT JOIN sgn ON ties.k = sgn.k
         )
         SELECT k AS user_id, n_points, s,
           CAST(vv AS DOUBLE) / 18.0 AS var_s,
           CASE WHEN CAST(vv AS DOUBLE) / 18.0 > 0 THEN
             (CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
                   WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
                   ELSE 0.0 END)
             / sqrt(CAST(vv AS DOUBLE) / 18.0)
           END AS z
         FROM j ORDER BY user_id""",

    // q278: the q241 grid CTEs + the split/scale/forecast replay.
    "q278_forecast_backtest" ->
      """WITH cells AS (
           SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             sum(round(value * 100)) AS v
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, b
         ), spans AS (
           SELECT event_type, min(b) AS lo, max(b) AS hi FROM cells
           GROUP BY event_type
         ), grid AS (
           SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
           FROM spans
         ), f AS (
           SELECT g.event_type, g.b,
             CAST(round(coalesce(c.v, 0)) AS BIGINT) AS v
           FROM grid g LEFT JOIN cells c
             ON c.event_type = g.event_type AND c.b = g.b
         ), idx AS (
           SELECT event_type, b, v,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY b)
               AS BIGINT) AS i,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
           FROM f
         ), base AS (
           SELECT *, n - 24 AS t FROM idx WHERE n >= 49
         ), sc1 AS (
           SELECT event_type, CAST(sum(ad) AS DOUBLE) / count(*) AS sc
           FROM (SELECT event_type,
                   abs(v - lag(v, 1) OVER (PARTITION BY event_type
                     ORDER BY b)) AS ad
                 FROM base WHERE i <= t)
           WHERE ad IS NOT NULL GROUP BY event_type
         ), sc24 AS (
           SELECT event_type, CAST(sum(ad) AS DOUBLE) / count(*) AS sc
           FROM (SELECT event_type,
                   abs(v - lag(v, 24) OVER (PARTITION BY event_type
                     ORDER BY b)) AS ad
                 FROM base WHERE i <= t)
           WHERE ad IS NOT NULL GROUP BY event_type
         ), lastv AS (
           SELECT event_type, v AS fn FROM base WHERE i = t
         ), test AS (
           SELECT event_type, v, i, t,
             i - 24 * CAST(ceil(CAST(i - t AS DOUBLE) / 24) AS BIGINT)
               AS si
           FROM base WHERE i > t
         ), sj AS (
           SELECT test.event_type, test.v, test.t, lastv.fn, bv.v AS fs
           FROM test
           JOIN lastv ON lastv.event_type = test.event_type
           JOIN base bv ON bv.event_type = test.event_type
             AND bv.i = test.si
         ), agg AS (
           SELECT event_type, max(t) AS n_train,
             CAST(count(*) AS BIGINT) AS horizon,
             sum(CASE WHEN abs(v) + abs(fn) = 0 THEN 0.0
               ELSE CAST(abs(v - fn) AS DOUBLE) * 2.0
                 / (abs(v) + abs(fn)) END) / count(*) AS smape_n,
             CAST(sum(abs(v - fn)) AS DOUBLE) / count(*) AS mae_n,
             sum(CASE WHEN abs(v) + abs(fs) = 0 THEN 0.0
               ELSE CAST(abs(v - fs) AS DOUBLE) * 2.0
                 / (abs(v) + abs(fs)) END) / count(*) AS smape_s,
             CAST(sum(abs(v - fs)) AS DOUBLE) / count(*) AS mae_s
           FROM sj GROUP BY event_type
         )
         SELECT agg.event_type, n_train, horizon,
           round(smape_n + 1e-9, 6) AS smape_naive,
           CASE WHEN sc1.sc > 0 THEN mae_n / sc1.sc END AS mase_naive,
           round(smape_s + 1e-9, 6) AS smape_snaive,
           CASE WHEN sc24.sc > 0 THEN mae_s / sc24.sc END AS mase_snaive
         FROM agg
         JOIN sc1 ON sc1.event_type = agg.event_type
         JOIN sc24 ON sc24.event_type = agg.event_type
         ORDER BY agg.event_type""",

    // q279: per-column grid + the q243 ⌈p·n⌉ rank pick + fence counts.
    "q279_outlier_report" ->
      """WITH cols(colname) AS (
           VALUES ('l_discount'), ('l_extendedprice'), ('l_quantity')
         ), src AS (
           SELECT 'l_quantity' AS colname, CAST(l_quantity AS DOUBLE) AS v
           FROM lineitem
           UNION ALL
           SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE)
           FROM lineitem
           UNION ALL
           SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
         ), grid AS (
           SELECT colname, v, count(*) AS c FROM src
           WHERE v IS NOT NULL GROUP BY colname, v
         ), cum AS (
           SELECT *, sum(c) OVER (PARTITION BY colname ORDER BY v
             ROWS UNBOUNDED PRECEDING) AS cm,
             sum(c) OVER (PARTITION BY colname) AS n
           FROM grid
         ), q AS (
           SELECT colname,
             min(CASE WHEN cm >= greatest(CAST(ceil(0.25 * n) AS BIGINT), 1)
               THEN v END) AS q1,
             min(CASE WHEN cm >= greatest(CAST(ceil(0.75 * n) AS BIGINT), 1)
               THEN v END) AS q3
           FROM cum GROUP BY colname
         ), fences AS (
           SELECT colname, q1, q3,
             q1 - 1.5 * (q3 - q1) AS lo_fence,
             q3 + 1.5 * (q3 - q1) AS hi_fence
           FROM q
         )
         SELECT src.colname AS "column",
           CAST(count(src.v) AS BIGINT) AS n,
           min(f.q1) AS q1, min(f.q3) AS q3,
           min(f.lo_fence) AS lo_fence, min(f.hi_fence) AS hi_fence,
           CAST(coalesce(sum(CASE WHEN src.v < f.lo_fence THEN 1 END), 0)
             AS BIGINT) AS n_low,
           CAST(coalesce(sum(CASE WHEN src.v > f.hi_fence THEN 1 END), 0)
             AS BIGINT) AS n_high
         FROM src JOIN fences f ON f.colname = src.colname
         GROUP BY src.colname ORDER BY src.colname""",

    // q277: base/converted flags per (bucket, entity), then the Wilson
    // chain with the identical op order.
    "q277_conversion_series" ->
      """WITH f AS (
           SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS b,
             user_id AS e,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS fr,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS tv
           FROM events
           WHERE ts IS NOT NULL AND event_type IN ('view', 'purchase')
           GROUP BY b, e
         ), c AS (
           SELECT b, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(tv) AS BIGINT) AS k
           FROM f WHERE fr = 1 GROUP BY b
         ), wls AS (
           SELECT b, n, k,
             CAST(k AS DOUBLE) / n AS p,
             1.0 + (1.96 * 1.96) / n AS denom
           FROM c
         )
         SELECT TIMESTAMP '1970-01-01 00:00:00' + b * INTERVAL 1 SECOND
             AS bucket_ts,
           n, k,
           round(p + 1e-9, 6) AS rate,
           round((p + (1.96 * 1.96) / (2.0 * n)) / denom
             - (1.96 * sqrt(p * (1.0 - p) / n
               + (1.96 * 1.96) / (4.0 * n * n))) / denom + 1e-9, 6)
             AS ci_low,
           round((p + (1.96 * 1.96) / (2.0 * n)) / denom
             + (1.96 * sqrt(p * (1.0 - p) / n
               + (1.96 * 1.96) / (4.0 * n * n))) / denom + 1e-9, 6)
             AS ci_high
         FROM wls ORDER BY bucket_ts""",

    // q276: the same tokenize -> stop-split -> deg/freq -> phrase-sum
    // chain; rank on the rounded score with phrase tie-break.
    "q276_rake_keywords" ->
      s"""WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(
             lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')),
             '\\s+'), x -> x <> '') AS toks
           FROM documents
         ), w AS (
           SELECT doc_id, unnest(toks) AS w,
             generate_subscripts(toks, 1) AS pos
           FROM t
         ), f AS (
           SELECT doc_id, w, pos,
             w IN $rakeStopsSqlList AS is_stop,
             sum(CASE WHEN w IN $rakeStopsSqlList THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS pid
           FROM w
         ), pw AS (
           SELECT doc_id, pid, w, pos FROM f WHERE NOT is_stop
         ), ph AS (
           SELECT doc_id, pid, count(*) AS plen FROM pw
           GROUP BY doc_id, pid HAVING count(*) <= 4
         ), ws AS (
           SELECT pw.doc_id, w,
             CAST(sum(plen) AS DOUBLE) / count(*) AS wscore
           FROM pw JOIN ph USING (doc_id, pid)
           GROUP BY pw.doc_id, w
         ), ps AS (
           SELECT pw.doc_id, pw.pid,
             string_agg(pw.w, ' ' ORDER BY pw.pos) AS phrase,
             round(sum(ws.wscore) + 1e-9, 6) AS score
           FROM pw JOIN ph USING (doc_id, pid)
             JOIN ws ON ws.doc_id = pw.doc_id AND ws.w = pw.w
           GROUP BY pw.doc_id, pw.pid
         ), r AS (
           SELECT doc_id, phrase, score,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, phrase) AS BIGINT) AS rank
           FROM ps
         )
         SELECT doc_id, phrase, score, rank FROM r WHERE rank <= 3
         ORDER BY doc_id, rank, phrase""",

    // q271: the MWU distinct-grid device with the Scholz-Stephens
    // weighted sum.
    "q271_anderson_darling" ->
      """WITH src AS (
           SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'view')
         ), grid AS (
           SELECT v,
             CAST(count(CASE WHEN g = 'click' THEN 1 END) AS BIGINT) AS ca,
             CAST(count(CASE WHEN g = 'view' THEN 1 END) AS BIGINT) AS cb
           FROM src GROUP BY v
         ), st AS (
           SELECT *, ca + cb AS l,
             sum(ca + cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS B,
             sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS M
           FROM grid
         ), tot AS (
           SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b
           FROM grid
         ), terms AS (
           SELECT coalesce(sum(
             CAST(l AS DOUBLE)
               * CAST((n_a + n_b) * M - n_a * B AS DOUBLE)
               * CAST((n_a + n_b) * M - n_a * B AS DOUBLE)
               / (B * (n_a + n_b - B))), 0) AS s
           FROM st, tot WHERE B < n_a + n_b
         )
         SELECT n_a, n_b,
           round(CASE WHEN n_a > 0 AND n_b > 0
             THEN s / (n_a * n_b) END + 1e-9, 6) AS a2
         FROM tot, terms""",

    // q272/q273: the md5 -> 53-bit dyadic uniform -> exponential-key
    // chain replayed verbatim; rank over (key, id).
    "q272_weighted_sample" ->
      """WITH t AS (
           SELECT doc_id, lang, n_chars,
             CAST(('0x' || substring(md5('r9§' || CAST(doc_id AS VARCHAR)),
               1, 15)) AS BIGINT) AS h
           FROM documents
           WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0
         ), k AS (
           SELECT doc_id, lang, n_chars,
             round(-ln((h // 128 + 1) / 9007199254740992.0)
               / CAST(n_chars AS DOUBLE) + 1e-12, 9) AS sample_key
           FROM t
         ), r AS (
           SELECT *, CAST(row_number() OVER (ORDER BY sample_key, doc_id)
             AS BIGINT) AS sample_rank
           FROM k
         )
         SELECT doc_id, lang, n_chars, sample_key, sample_rank
         FROM r WHERE sample_rank <= 60 ORDER BY sample_rank""",

    "q273_weighted_sample_strata" ->
      """WITH t AS (
           SELECT doc_id, lang, n_chars,
             CAST(('0x' || substring(md5('r9§' || CAST(doc_id AS VARCHAR)),
               1, 15)) AS BIGINT) AS h
           FROM documents
           WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0
         ), k AS (
           SELECT doc_id, lang, n_chars,
             round(-ln((h // 128 + 1) / 9007199254740992.0)
               / CAST(n_chars AS DOUBLE) + 1e-12, 9) AS sample_key
           FROM t
         ), r AS (
           SELECT *, CAST(row_number() OVER (PARTITION BY lang
             ORDER BY sample_key, doc_id) AS BIGINT) AS sample_rank
           FROM k
         )
         SELECT doc_id, lang, n_chars, sample_key, sample_rank
         FROM r WHERE sample_rank <= 10 ORDER BY lang, sample_rank""",

    // q270: the q233 seasonal CTEs feeding the q241 list_reduce
    // cascade on the deseasonalized series.
    "q270_holt_winters" ->
      """WITH cells AS (
           SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             sum(round(value * 100)) AS v
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, b
         ), spans AS (
           SELECT event_type, min(b) AS lo, max(b) AS hi FROM cells
           GROUP BY event_type
         ), grid AS (
           SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
           FROM spans
         ), f AS (
           SELECT g.event_type, g.b, coalesce(c.v, 0) AS v
           FROM grid g LEFT JOIN cells c
             ON c.event_type = g.event_type AND c.b = g.b
         ), o AS (
           SELECT event_type, b, v,
             CAST((row_number() OVER w - 1) % 24 AS INT) AS phase,
             count(v) OVER wt AS wn,
             sum(v) OVER wt AS ws
           FROM f
           WINDOW w AS (PARTITION BY event_type ORDER BY b),
           wt AS (PARTITION BY event_type ORDER BY b
             ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
         ), t AS (
           SELECT *, CASE WHEN wn = 24 THEN v * 24 - ws END AS dnum
           FROM o
         ), pa AS (
           SELECT event_type, phase, sum(dnum) AS snum,
             CAST(count(*) AS BIGINT) AS sn
           FROM t WHERE dnum IS NOT NULL GROUP BY event_type, phase
         ), pav AS (
           SELECT event_type, phase, snum / (sn * 24.0) AS sraw FROM pa
         ), ctr AS (
           SELECT event_type, sum(sraw) / count(*) AS center
           FROM pav GROUP BY event_type
         ), seas AS (
           SELECT pav.event_type, pav.phase, sraw - center AS seasonal
           FROM pav JOIN ctr ON ctr.event_type = pav.event_type
         ), d AS (
           SELECT t.event_type, t.b, t.phase, t.v, s.seasonal,
             t.v - s.seasonal AS des
           FROM t LEFT JOIN seas s
             ON s.event_type = t.event_type AND s.phase = t.phase
         ), s1s AS (
           SELECT *,
             list_reduce(
               list(des) OVER (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               (acc, e) -> CAST(0.5 AS DOUBLE) * e
                 + CAST(0.5 AS DOUBLE) * acc) AS s1
           FROM d
         ), s2s AS (
           SELECT *,
             list_reduce(
               list(s1) OVER (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               (acc, e) -> CAST(0.5 AS DOUBLE) * e
                 + CAST(0.5 AS DOUBLE) * acc) AS s2
           FROM s1s
         )
         SELECT event_type,
           TIMESTAMP '1970-01-01 00:00:00' + b * INTERVAL 1 SECOND
             AS bucket_ts,
           phase, round(v / 100.0, 4) AS value,
           round(seasonal / 100.0 + 1e-9, 4) AS seasonal,
           round((CAST(2 AS DOUBLE) * s1 - s2) / 100.0 + 1e-9, 4)
             AS hw_level,
           round((s1 - s2) / 100.0 + 1e-9, 4) AS hw_trend,
           round(((CAST(2 AS DOUBLE) * s1 - s2) + (s1 - s2) + seasonal)
             / 100.0 + 1e-9, 4) AS hw_fitted
         FROM s2s ORDER BY event_type, bucket_ts""",

    // q267: the same exact-integer prefix-sum argmax; DuckDB '/' on
    // (BIGINT-exact double, BIGINT) is the same IEEE division.
    "q267_changepoint" ->
      """WITH base AS (
           SELECT user_id AS k, ts, CAST(round(value * 100) AS BIGINT) AS v
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         ), st AS (
           SELECT k, ts, v,
             CAST(row_number() OVER (PARTITION BY k ORDER BY ts, v)
               AS BIGINT) AS i,
             sum(v) OVER (PARTITION BY k ORDER BY ts, v
               ROWS UNBOUNDED PRECEDING) AS s,
             CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n,
             sum(v) OVER (PARTITION BY k) AS tot
           FROM base
         ), cand AS (
           SELECT *,
             CAST(s * s AS DOUBLE) / i
               + CAST((tot - s) * (tot - s) AS DOUBLE) / (n - i)
               - CAST(tot * tot AS DOUBLE) / n AS gain
           FROM st WHERE i >= 5 AND i <= n - 5
         )
         SELECT k AS user_id, n, i AS t_index, ts AS split_ts,
           CAST(s AS DOUBLE) / (i * 100.0) AS mean_left,
           CAST(tot - s AS DOUBLE) / ((n - i) * 100.0) AS mean_right,
           gain / (100.0 * 100.0) AS gain
         FROM cand
         QUALIFY row_number() OVER (PARTITION BY k ORDER BY gain DESC, i) = 1
         ORDER BY user_id""",

    // q268: pair slopes from exact (x100 value, epoch-us) integers;
    // median picked by rank, averaged when even.
    "q268_theil_sen" ->
      """WITH base AS (
           SELECT user_id AS k, epoch_us(ts) AS t,
             CAST(round(value * 100) AS BIGINT) AS v
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         ), pts AS (
           SELECT k, t, v,
             row_number() OVER (PARTITION BY k ORDER BY t DESC, v DESC) AS r
           FROM base QUALIFY r <= 1000
         ), sl AS (
           SELECT a.k,
             (CAST(b.v - a.v AS DOUBLE) * 10000.0) / (b.t - a.t) AS slope
           FROM pts a JOIN pts b
             ON a.k = b.k AND a.r < b.r AND a.t <> b.t
         ), idx AS (
           SELECT k, slope,
             CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS m,
             row_number() OVER (PARTITION BY k ORDER BY slope) AS i
           FROM sl
         ), med AS (
           SELECT k, CAST(max(m) AS BIGINT) AS n_pairs, avg(slope) AS slope
           FROM idx
           WHERE i = CAST(floor((m + 1) / 2) AS BIGINT)
              OR i = CAST(floor((m + 2) / 2) AS BIGINT)
           GROUP BY k
         ), np AS (
           SELECT k, CAST(count(*) AS BIGINT) AS n_points FROM pts GROUP BY k
         )
         SELECT k AS user_id, n_points, n_pairs, slope
         FROM med JOIN np USING (k) ORDER BY user_id""",

    // q269: distinct non-loop edges, reverse-existence semi join.
    "q269_reciprocity" ->
      """WITH e AS (
           SELECT DISTINCT l_partkey AS s, l_suppkey AS d FROM lineitem
           WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
             AND l_partkey <> l_suppkey
         ), m AS (
           SELECT CAST(count(*) AS BIGINT) AS n_reciprocal FROM e
           WHERE EXISTS (SELECT 1 FROM e e2
                         WHERE e2.s = e.d AND e2.d = e.s)
         ), t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
         SELECT n_edges, n_reciprocal,
           CAST(n_reciprocal AS DOUBLE) / n_edges AS reciprocity
         FROM t, m""",

    // q266: the same pooled-theta CUPED adjustment on DuckDB's
    // covar_pop/var_pop; unit sums exact ×100 integers.
    "q266_cuped" ->
      """WITH u AS (
           SELECT user_id,
             CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
               THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
               AS DOUBLE) AS x,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
               THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
               AS DOUBLE) AS y,
             CAST(user_id % 2 AS VARCHAR) AS g
           FROM events GROUP BY user_id
         ), pre AS (
           SELECT covar_pop(x, y) AS cxy, var_pop(x) AS vx, avg(x) AS mx
           FROM u
         ), a AS (
           SELECT g, y,
             CASE WHEN vx > 0 THEN cxy / vx ELSE 0 END AS theta,
             y - (CASE WHEN vx > 0 THEN cxy / vx ELSE 0 END) * (x - mx)
               AS adj
           FROM u, pre
         )
         SELECT
           CAST(count(CASE WHEN g = '1' THEN 1 END) AS BIGINT) AS n_treat,
           CAST(count(CASE WHEN g = '0' THEN 1 END) AS BIGINT) AS n_ctrl,
           round(min(theta) + 1e-9, 6) AS theta,
           round(avg(CASE WHEN g = '1' THEN y END)
             - avg(CASE WHEN g = '0' THEN y END) + 1e-9, 4) AS effect_raw,
           round(sqrt(var_pop(CASE WHEN g = '1' THEN y END)
               / count(CASE WHEN g = '1' THEN 1 END)
             + var_pop(CASE WHEN g = '0' THEN y END)
               / count(CASE WHEN g = '0' THEN 1 END)) + 1e-9, 4) AS se_raw,
           round(avg(CASE WHEN g = '1' THEN adj END)
             - avg(CASE WHEN g = '0' THEN adj END) + 1e-9, 4)
             AS effect_cuped,
           round(sqrt(var_pop(CASE WHEN g = '1' THEN adj END)
               / count(CASE WHEN g = '1' THEN 1 END)
             + var_pop(CASE WHEN g = '0' THEN adj END)
               / count(CASE WHEN g = '0' THEN 1 END)) + 1e-9, 4)
             AS se_cuped,
           round(CASE WHEN var_pop(y) > 0
             THEN 1.0 - var_pop(adj) / var_pop(y) END + 1e-9, 6)
             AS var_reduction
         FROM a""",

    // q263/q264: integer-cents first digit via integer-to-string (the
    // portable route — float-to-string is not), full 1..9 grid.
    "q263_benford_digits" ->
      """WITH src AS (
           SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL
         ), d AS (
           SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
             CAST(count(*) AS BIGINT) AS n
           FROM src WHERE v > 0 GROUP BY 1
         ), g AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM d)
         SELECT g.digit, CAST(COALESCE(d.n, 0) AS BIGINT) AS n,
           round(COALESCE(d.n, 0) / tot + 1e-9, 6) AS p_obs,
           round(log10(1 + 1.0 / g.digit) + 1e-9, 6) AS p_exp,
           round(abs(COALESCE(d.n, 0) / tot - log10(1 + 1.0 / g.digit))
             + 1e-9, 6) AS abs_dev
         FROM g LEFT JOIN d USING (digit), t ORDER BY g.digit""",

    "q264_benford_stat" ->
      """WITH src AS (
           SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL
         ), d AS (
           SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
             count(*) AS n
           FROM src WHERE v > 0 GROUP BY 1
         ), g AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit),
         rep AS (
           SELECT COALESCE(d.n, 0) AS n,
             COALESCE(d.n, 0) / (SELECT sum(n) FROM d) AS p_obs,
             log10(1 + 1.0 / g.digit) AS p_exp
           FROM g LEFT JOIN d USING (digit)
         )
         SELECT CAST(sum(n) AS BIGINT) AS n_rows,
           round(sum(n) * sum((p_obs - p_exp) * (p_obs - p_exp) / p_exp)
             + 1e-9, 4) AS chi2,
           round(avg(abs(p_obs - p_exp)) + 1e-9, 6) AS mad
         FROM rep""",

    // q265: one exact distinct-count pass per dependency, unioned.
    "q265_fd_screen" ->
      """WITH a AS (
           SELECT 'l_orderkey' AS lhs, 'l_returnflag' AS rhs,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_groups,
             CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT)
               AS violating_rows
           FROM (SELECT count(*) AS n,
                   count(DISTINCT COALESCE(CAST(l_returnflag AS VARCHAR),
                     '<null>')) AS nd
                 FROM lineitem GROUP BY l_orderkey)
         ), b AS (
           SELECT 'l_orderkey,l_linenumber' AS lhs, 'l_partkey' AS rhs,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_groups,
             CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT)
               AS violating_rows
           FROM (SELECT count(*) AS n,
                   count(DISTINCT COALESCE(CAST(l_partkey AS VARCHAR),
                     '<null>')) AS nd
                 FROM lineitem GROUP BY l_orderkey, l_linenumber)
         ), c AS (
           SELECT 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_groups,
             CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT)
               AS violating_rows
           FROM (SELECT count(*) AS n,
                   count(DISTINCT COALESCE(CAST(o_custkey AS VARCHAR),
                     '<null>')) AS nd
                 FROM orders GROUP BY o_orderkey)
         )
         SELECT lhs, rhs, n_groups, violating_groups, violating_rows,
           violating_groups = 0 AS holds
         FROM (SELECT * FROM a UNION ALL SELECT * FROM b
               UNION ALL SELECT * FROM c)
         ORDER BY lhs, rhs""",

    // q260: DuckDB's jaro_winkler_similarity IS the reference semantics
    // the kernel implements (byte-level, boost>0.7, prefix cap 4) —
    // this gate is the value-parity proof across 2000 name shapes.
    "q260_jaro_winkler" ->
      """SELECT p_partkey,
         round(jaro_winkler_similarity(p_name,
           substr(p_name, 1, 7) || substr(p_name, 9)) + 1e-9, 6) AS jw_dirty,
         round(jaro_winkler_similarity(p_name, reverse(p_name)) + 1e-9, 6)
           AS jw_rev
         FROM part ORDER BY p_partkey""",

    // q261: the same blocked-join + rounded-score rank the operator
    // runs, on DuckDB's native jaro_winkler.
    "q261_record_linkage" ->
      """WITH l AS (
           SELECT p_partkey AS lid, p_name AS nm FROM part
         ), r AS (
           SELECT p_partkey + 10000000 AS rid,
             substr(p_name, 1, 7) || substr(p_name, 9) AS nm FROM part
         ), cand AS (
           SELECT l.lid, r.rid,
             round(jaro_winkler_similarity(l.nm, r.nm) + 1e-9, 6) AS score
           FROM l JOIN r
             ON substr(lower(trim(l.nm)), 1, 2) = substr(lower(trim(r.nm)), 1, 2)
         ), kept AS (
           SELECT lid, rid, score,
             CAST(row_number() OVER (PARTITION BY lid
               ORDER BY score DESC, rid) AS BIGINT) AS rank
           FROM cand WHERE score >= 0.9
         )
         SELECT lid, rid, score, rank FROM kept
         WHERE rank <= 1 ORDER BY lid""",

    // q262: per-block right-side counts above the cap, hottest first.
    "q262_linkage_cap_report" ->
      """SELECT substr(lower(trim(p_name)), 1, 2) AS block_key,
         CAST(count(*) AS BIGINT) AS n_right
         FROM part GROUP BY block_key HAVING count(*) > 250
         ORDER BY n_right DESC, block_key""",

    // q259: per-row norms as sequential list folds, per-dim centroid
    // means, the cosine over the joined centroid frame.
    "q259_embedding_drift" ->
      """WITH r AS (
           SELECT embedding AS e FROM embeddings
           WHERE embedding IS NOT NULL AND vec_id % 2 = 0
         ), c AS (
           SELECT embedding AS e FROM embeddings
           WHERE embedding IS NOT NULL AND vec_id % 2 = 1
         ), sr AS (
           SELECT CAST(count(*) AS BIGINT) AS n_ref,
             avg(sqrt(list_aggregate(list_transform(e,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
               AS mean_norm_ref
           FROM r
         ), sc AS (
           SELECT CAST(count(*) AS BIGINT) AS n_cur,
             avg(sqrt(list_aggregate(list_transform(e,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
               AS mean_norm_cur
           FROM c
         ), mr AS (
           SELECT i, avg(CAST(v AS DOUBLE)) AS mu
           FROM (SELECT generate_subscripts(e, 1) AS i, unnest(e) AS v
             FROM r)
           GROUP BY i
         ), mc AS (
           SELECT i, avg(CAST(v AS DOUBLE)) AS mu
           FROM (SELECT generate_subscripts(e, 1) AS i, unnest(e) AS v
             FROM c)
           GROUP BY i
         ), d AS (
           SELECT COALESCE(sum(mr.mu * mc.mu), 0) AS ab,
             COALESCE(sum(mr.mu * mr.mu), 0) AS aa,
             COALESCE(sum(mc.mu * mc.mu), 0) AS bb,
             CAST(count(*) AS BIGINT) AS dim
           FROM mr JOIN mc USING (i)
         )
         SELECT n_ref, n_cur, dim,
           round(CASE WHEN aa > 0 AND bb > 0
             THEN ab / (sqrt(aa) * sqrt(bb)) END + 1e-9, 6)
             AS centroid_cosine,
           round(mean_norm_ref + 1e-9, 6) AS mean_norm_ref,
           round(mean_norm_cur + 1e-9, 6) AS mean_norm_cur
         FROM sr, sc, d""",

    // q258: node→degree→count with the running node-CDF.
    "q258_degree_distribution" ->
      """WITH pe AS (
           SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem
         ), nodes AS (
           SELECT src AS node FROM pe UNION ALL SELECT dst FROM pe
         ), deg AS (
           SELECT node, CAST(count(*) AS BIGINT) AS degree
           FROM nodes GROUP BY node
         ), dist AS (
           SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
           FROM deg GROUP BY degree
         ), tot AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS t FROM dist)
         SELECT degree, n_nodes, (SELECT t FROM tot) AS total_nodes,
           round(CAST(n_nodes AS DOUBLE) / (SELECT t FROM tot)
             + 1e-9, 6) AS share,
           round(CAST(sum(n_nodes) OVER (ORDER BY degree
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) / (SELECT t FROM tot) + 1e-9, 6) AS cum_share
         FROM dist ORDER BY degree""",
    // q241: the zero-filled grid + Brown's cascade replayed as TWO
    // scalar list_reduce folds (the q191 device): s1 over the value
    // prefix, s2 over the s1-series prefix — identical IEEE sequences;
    // with α = 0.5 the trend coefficient α/(1−α) is exactly 1.
    "q241_holt" ->
      """WITH cells AS (
           SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             sum(round(value * 100)) AS v
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, b
         ), spans AS (
           SELECT event_type, min(b) AS lo, max(b) AS hi FROM cells
           GROUP BY event_type
         ), grid AS (
           SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
           FROM spans
         ), j AS (
           SELECT g.event_type, g.b, coalesce(c.v, 0.0) AS v
           FROM grid g LEFT JOIN cells c
             ON c.event_type = g.event_type AND c.b = g.b
         ), s1s AS (
           SELECT event_type, b, v,
             list_reduce(
               list(v) OVER (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               (acc, e) -> CAST(0.5 AS DOUBLE) * e
                 + CAST(0.5 AS DOUBLE) * acc) AS s1
           FROM j
         ), s2s AS (
           SELECT event_type, b, v, s1,
             list_reduce(
               list(s1) OVER (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               (acc, e) -> CAST(0.5 AS DOUBLE) * e
                 + CAST(0.5 AS DOUBLE) * acc) AS s2
           FROM s1s
         )
         SELECT event_type,
           TIMESTAMP '1970-01-01 00:00:00' + b * INTERVAL 1 SECOND
             AS bucket_ts,
           round(v / 100.0, 4) AS value,
           round((CAST(2 AS DOUBLE) * s1 - s2) / 100.0 + 1e-9, 4)
             AS holt_level,
           round((s1 - s2) / 100.0 + 1e-9, 4) AS holt_trend,
           round(((CAST(2 AS DOUBLE) * s1 - s2) + (s1 - s2)) / 100.0
             + 1e-9, 4) AS holt_forecast
         FROM s2s ORDER BY event_type, bucket_ts""",

    // q240: per-user lifetimes, the duration grid, the reverse running
    // risk count, and the ordered product-limit window replayed.
    "q240_kaplan_meier" ->
      """WITH per AS (
           SELECT user_id,
             CAST(min(floor(epoch(ts) / 3600)) AS BIGINT) AS f,
             CAST(max(floor(epoch(ts) / 3600)) AS BIGINT) AS l
           FROM events WHERE ts IS NOT NULL GROUP BY user_id
         ), mx AS (SELECT max(l) AS m FROM per
         ), lt AS (
           SELECT l - f AS duration,
             CASE WHEN l < (SELECT m FROM mx) - 24 THEN 1 ELSE 0 END AS o
           FROM per
         ), grid AS (
           SELECT duration,
             CAST(count(CASE WHEN o = 1 THEN 1 END) AS BIGINT) AS n_events,
             CAST(count(CASE WHEN o = 0 THEN 1 END) AS BIGINT) AS n_censored
           FROM lt GROUP BY duration
         ), nn AS (
           SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n FROM grid
         ), w AS (
           SELECT *,
             (SELECT n FROM nn) - COALESCE(sum(n_events + n_censored)
               OVER (ORDER BY duration
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
           FROM grid
         ), sv AS (
           SELECT duration, CAST(n_risk AS BIGINT) AS n_risk,
             n_events, n_censored,
             product(1.0 - CAST(n_events AS DOUBLE) / n_risk)
               OVER (ORDER BY duration
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
             sum(CASE WHEN n_events > 0 AND n_risk > n_events
               THEN CAST(n_events AS DOUBLE)
                 / (n_risk * (n_risk - n_events)) ELSE 0 END)
               OVER (ORDER BY duration
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
           FROM w
         )
         SELECT duration, n_risk, n_events, n_censored,
           round(s + 1e-9, 6) AS survival,
           round(s * sqrt(g) + 1e-9, 6) AS survival_se,
           round(greatest(s - 1.96 * (s * sqrt(g)), 0) + 1e-9, 6) AS ci_lo,
           round(least(s + 1.96 * (s * sqrt(g)), 1) + 1e-9, 6) AS ci_hi
         FROM sv ORDER BY duration""",

    // q244: the q240 lifetimes chain split by user parity; per-group
    // risk sets from reverse running counts; hypergeometric moments
    // summed over EVENT rows only.
    "q244_log_rank" ->
      """WITH per AS (
           SELECT user_id,
             CAST(min(floor(epoch(ts) / 3600)) AS BIGINT) AS f,
             CAST(max(floor(epoch(ts) / 3600)) AS BIGINT) AS l
           FROM events WHERE ts IS NOT NULL GROUP BY user_id
         ), mx AS (SELECT max(l) AS m FROM per
         ), lt AS (
           SELECT l - f AS duration,
             CASE WHEN l < (SELECT m FROM mx) - 24 THEN 1 ELSE 0 END AS o,
             CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS g
           FROM per
         ), grid AS (
           SELECT duration,
             CAST(count(CASE WHEN o = 1 AND g = 'even' THEN 1 END)
               AS BIGINT) AS d1,
             CAST(count(CASE WHEN o = 1 AND g = 'odd' THEN 1 END)
               AS BIGINT) AS d2,
             CAST(count(CASE WHEN o = 0 AND g = 'even' THEN 1 END)
               AS BIGINT) AS c1,
             CAST(count(CASE WHEN o = 0 AND g = 'odd' THEN 1 END)
               AS BIGINT) AS c2
           FROM lt GROUP BY duration
         ), tot AS (
           SELECT CAST(sum(d1 + c1) AS BIGINT) AS n1t,
             CAST(sum(d2 + c2) AS BIGINT) AS n2t
           FROM grid
         ), w AS (
           SELECT *,
             (SELECT n1t FROM tot) - COALESCE(sum(d1 + c1)
               OVER (ORDER BY duration
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n1,
             (SELECT n2t FROM tot) - COALESCE(sum(d2 + c2)
               OVER (ORDER BY duration
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n2
           FROM grid
         ), ev AS (
           SELECT d1, d2, d1 + d2 AS dt, n1, n2,
             CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2) AS e1,
             CASE WHEN n1 + n2 > 1
               THEN CAST(d1 + d2 AS DOUBLE) * n1 * n2
                 * ((n1 + n2) - (d1 + d2))
                 / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * ((n1 + n2) - 1))
               ELSE 0 END AS v
           FROM w WHERE d1 + d2 > 0
         ), agg AS (
           SELECT CAST(sum(d1) AS BIGINT) AS obs_a,
             CAST(sum(d2) AS BIGINT) AS obs_b,
             sum(e1) AS exp_a, sum(CAST(dt AS DOUBLE) - e1) AS exp_b,
             sum(v) AS variance
           FROM ev
         )
         SELECT 'even' AS group_a, 'odd' AS group_b, obs_a, obs_b,
           round(exp_a + 1e-9, 6) AS exp_a,
           round(exp_b + 1e-9, 6) AS exp_b,
           round(variance + 1e-9, 6) AS variance,
           round(CASE WHEN variance > 0
             THEN (CAST(obs_a AS DOUBLE) - exp_a) ^ 2 / variance END
             + 1e-9, 6) AS chi2
         FROM agg""",

    // q245: the q240 grid with running Σ d/n and √(Σ d/n²) instead of
    // the product-limit curve.
    "q245_nelson_aalen" ->
      """WITH per AS (
           SELECT user_id,
             CAST(min(floor(epoch(ts) / 3600)) AS BIGINT) AS f,
             CAST(max(floor(epoch(ts) / 3600)) AS BIGINT) AS l
           FROM events WHERE ts IS NOT NULL GROUP BY user_id
         ), mx AS (SELECT max(l) AS m FROM per
         ), lt AS (
           SELECT l - f AS duration,
             CASE WHEN l < (SELECT m FROM mx) - 24 THEN 1 ELSE 0 END AS o
           FROM per
         ), grid AS (
           SELECT duration,
             CAST(count(CASE WHEN o = 1 THEN 1 END) AS BIGINT) AS n_events,
             CAST(count(CASE WHEN o = 0 THEN 1 END) AS BIGINT) AS n_censored
           FROM lt GROUP BY duration
         ), nn AS (
           SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n FROM grid
         ), w AS (
           SELECT *,
             (SELECT n FROM nn) - COALESCE(sum(n_events + n_censored)
               OVER (ORDER BY duration
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
           FROM grid
         )
         SELECT duration, CAST(n_risk AS BIGINT) AS n_risk, n_events,
           n_censored,
           round(sum(CAST(n_events AS DOUBLE) / n_risk)
             OVER (ORDER BY duration
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             + 1e-9, 6) AS cum_hazard,
           round(sqrt(sum(CAST(n_events AS DOUBLE) / (n_risk * n_risk))
             OVER (ORDER BY duration
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             + 1e-9, 6) AS cum_hazard_se
         FROM w ORDER BY duration""",

    // q248: generated unrolled absorption fixed-point (see
    // markovOracleSql).
    "q248_markov_attribution" -> markovOracleSql(iterations = 30),

    // q253: next-conversion via a reverse-frame min window, positional
    // weights, per-conversion normalization — all replayed.
    "q253_attribution_credits" ->
      """WITH base AS (
           SELECT user_id AS u, event_id AS id, event_type AS t,
             epoch_us(ts) AS us,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS cus
           FROM events
           WHERE ts IS NOT NULL
             AND event_type IN ('purchase', 'view', 'click', 'signup')
         ), touches AS (
           SELECT * FROM base
           WHERE t <> 'purchase' AND cus IS NOT NULL
             AND cus - us <= 604800000000
         ), wtd AS (
           SELECT u, cus, t, us, id,
             count(*) OVER (PARTITION BY u, cus) AS k,
             row_number() OVER (PARTITION BY u, cus ORDER BY us, id)
               AS pos
           FROM touches
         ), rw AS (
           SELECT u, cus, t,
             CASE WHEN k = 1 THEN 1.0 WHEN k = 2 THEN 0.5
               WHEN pos = 1 OR pos = k THEN 0.4
               ELSE 0.2 / (k - 2) END AS raw
           FROM wtd
         ), nw AS (
           SELECT u, cus, t,
             raw / sum(raw) OVER (PARTITION BY u, cus) AS w
           FROM rw
         ), agg AS (
           SELECT t AS channel, CAST(count(*) AS BIGINT) AS n_touches,
             sum(w) AS credit
           FROM nw GROUP BY t
         ), convs AS (
           SELECT t AS channel, CAST(count(*) AS BIGINT) AS n_conversions
           FROM (SELECT DISTINCT t, u, cus FROM nw) GROUP BY t
         )
         SELECT a.channel, a.n_touches, c.n_conversions,
           round(a.credit + 1e-9, 6) AS credit
         FROM agg a JOIN convs c ON c.channel = a.channel
         ORDER BY a.channel""",

    // q255: per-column value grids, ln N − Σc·ln c / N, top-share.
    "q255_entropy_report" ->
      """WITH g1 AS (
           SELECT CAST(count(*) AS BIGINT) AS n FROM documents
           WHERE lang IS NOT NULL GROUP BY CAST(lang AS VARCHAR)
         ), a1 AS (
           SELECT 'lang' AS "column", CAST(sum(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(n) AS BIGINT) AS tp, sum(n * ln(n)) AS s
           FROM g1
         ), g2 AS (
           SELECT CAST(count(*) AS BIGINT) AS n FROM documents
           WHERE source IS NOT NULL GROUP BY CAST(source AS VARCHAR)
         ), a2 AS (
           SELECT 'source' AS "column", CAST(sum(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(n) AS BIGINT) AS tp, sum(n * ln(n)) AS s
           FROM g2
         ), g3 AS (
           SELECT CAST(count(*) AS BIGINT) AS n FROM documents
           WHERE n_chars IS NOT NULL GROUP BY CAST(n_chars AS VARCHAR)
         ), a3 AS (
           SELECT 'n_chars' AS "column", CAST(sum(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(n) AS BIGINT) AS tp, sum(n * ln(n)) AS s
           FROM g3
         ), u AS (
           SELECT * FROM a1 UNION ALL SELECT * FROM a2
           UNION ALL SELECT * FROM a3
         )
         SELECT "column", n, n_distinct,
           round(CASE WHEN n > 0 THEN ln(n) - s / n END + 1e-9, 6)
             AS entropy,
           round(CASE WHEN n > 0 THEN CAST(tp AS DOUBLE) / n END
             + 1e-9, 6) AS top_share
         FROM u ORDER BY "column"""",

    // q257: per-column midrank grids (the MWU tie-run device) joined to
    // the (a,b) cell grid; Pearson moments with multiplicities.
    "q257_spearman" ->
      """WITH base AS (
           SELECT round(value * 100) AS a, floor(value / 100) AS b
           FROM events WHERE value IS NOT NULL
         ), cells AS (
           SELECT a, b, CAST(count(*) AS BIGINT) AS c
           FROM base GROUP BY a, b
         ), ga AS (
           SELECT a, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY a
         ), ra AS (
           SELECT a, COALESCE(sum(t) OVER (ORDER BY a
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (t + 1) / 2.0 AS r
           FROM ga
         ), gb AS (
           SELECT b, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY b
         ), rb AS (
           SELECT b, COALESCE(sum(t) OVER (ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (t + 1) / 2.0 AS r
           FROM gb
         ), m AS (
           SELECT CAST(sum(c) AS BIGINT) AS n,
             sum(c * ra.r) AS sa, sum(c * rb.r) AS sb,
             sum(c * ra.r * ra.r) AS saa, sum(c * rb.r * rb.r) AS sbb,
             sum(c * ra.r * rb.r) AS sab
           FROM cells JOIN ra USING (a) JOIN rb USING (b)
         )
         SELECT n,
           round(CASE WHEN n >= 2 AND n * saa - sa * sa > 0
               AND n * sbb - sb * sb > 0
             THEN (n * sab - sa * sb)
               / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)) END
             + 1e-9, 6) AS rho
         FROM m""",

    // q256: the q205 full-grid χ² replay plus √(χ²/(N·min(r−1,c−1))).
    "q256_cramers_v" ->
      """WITH obs AS (
           SELECT lang AS r, source AS c, CAST(count(*) AS BIGINT) AS o
           FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
           GROUP BY r, c
         ), rt AS (SELECT r, sum(o) AS rt FROM obs GROUP BY r
         ), ct AS (SELECT c, sum(o) AS ct FROM obs GROUP BY c
         ), tot AS (SELECT sum(o) AS n FROM obs
         ), grid AS (
           SELECT rt.r, ct.c, COALESCE(obs.o, 0) AS o, rt.rt, ct.ct,
             (SELECT n FROM tot) AS n
           FROM rt CROSS JOIN ct
           LEFT JOIN obs ON obs.r = rt.r AND obs.c = ct.c
         ), a AS (
           SELECT CAST(max(n) AS BIGINT) AS n,
             CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT c) AS BIGINT) AS n_cols,
             sum(pow(o - rt * ct / CAST(n AS DOUBLE), 2)
               / (rt * ct / CAST(n AS DOUBLE))) AS chi2
           FROM grid
         )
         SELECT n, n_rows, n_cols, round(chi2 + 1e-9, 4) AS chi2,
           round(CASE WHEN n > 0 AND least(n_rows - 1, n_cols - 1) > 0
             THEN sqrt(chi2 / (n * least(n_rows - 1, n_cols - 1))) END
             + 1e-9, 6) AS v
         FROM a""",

    // q246: decile edges via the q243 rank-pick on the REF grid, bins
    // by strict-below edge count, ε-floored PSI over the 10-bin frame.
    "q246_quantile_drift" ->
      """WITH refv AS (
           SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
           WHERE n_chars IS NOT NULL AND doc_id % 2 = 0
         ), curv AS (
           SELECT CAST(CASE WHEN doc_id % 5 = 0 THEN n_chars * 3
             ELSE n_chars END AS DOUBLE) AS v
           FROM documents WHERE n_chars IS NOT NULL AND doc_id % 2 = 1
         ), grid AS (
           SELECT v, CAST(count(*) AS BIGINT) AS t FROM refv GROUP BY v
         ), nn AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM grid
         ), cum AS (
           SELECT v, t, CAST(sum(t) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS c
           FROM grid
         ), ranked AS (
           SELECT i, greatest(CAST(ceil(i / 10.0 * (SELECT n FROM nn))
             AS BIGINT), 1) AS r
           FROM (SELECT unnest(generate_series(1, 9)) AS i)
         ), edges AS (
           SELECT r.i, c.v FROM ranked r
           JOIN cum c ON c.c >= r.r AND c.c - c.t < r.r
         ), rb AS (
           SELECT (SELECT count(*) FROM edges e WHERE e.v < t.v) AS bin,
             CAST(count(*) AS BIGINT) AS n
           FROM refv t GROUP BY 1
         ), cb AS (
           SELECT (SELECT count(*) FROM edges e WHERE e.v < t.v) AS bin,
             CAST(count(*) AS BIGINT) AS n
           FROM curv t GROUP BY 1
         ), bins AS (
           SELECT CAST(unnest(generate_series(0, 9)) AS INT) AS bin
         ), j AS (
           SELECT b.bin,
             COALESCE(rb.n, 0) AS n_ref, COALESCE(cb.n, 0) AS n_cur,
             CASE WHEN b.bin > 0
               THEN (SELECT v FROM edges WHERE i = b.bin) END AS lo,
             CASE WHEN b.bin < 9
               THEN (SELECT v FROM edges WHERE i = b.bin + 1) END AS hi
           FROM bins b
           LEFT JOIN rb ON rb.bin = b.bin LEFT JOIN cb ON cb.bin = b.bin
         ), fl AS (
           SELECT *,
             greatest(CAST(n_ref AS DOUBLE)
               / (SELECT sum(n_ref) FROM j), 1e-4) AS p,
             greatest(CAST(n_cur AS DOUBLE)
               / (SELECT sum(n_cur) FROM j), 1e-4) AS q
           FROM j
         )
         SELECT bin, lo, hi, n_ref, n_cur,
           round(p + 1e-9, 6) AS p, round(q + 1e-9, 6) AS q,
           round((p - q) * ln(p / q) + 1e-9, 6) AS psi_contrib,
           round((SELECT sum((p - q) * ln(p / q)) FROM fl) + 1e-9, 6)
             AS psi_total
         FROM fl ORDER BY bin""",

    // q247: all exact counts; orphan grid anti-joined, not rows.
    "q247_referential_integrity" ->
      """WITH child AS (
           SELECT CASE WHEN o_orderkey % 89 = 0 THEN NULL
             WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000
             ELSE o_custkey END AS k
           FROM orders
         ), nulls AS (
           SELECT CAST(count(*) AS BIGINT) AS n_child,
             CAST(count(CASE WHEN k IS NULL THEN 1 END) AS BIGINT)
               AS n_null_key
           FROM child
         ), grid AS (
           SELECT k, CAST(count(*) AS BIGINT) AS n
           FROM child WHERE k IS NOT NULL GROUP BY k
         ), orph AS (
           SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) AS n_orphans,
             CAST(count(*) AS BIGINT) AS n_orphan_keys
           FROM grid
           WHERE k NOT IN (SELECT c_custkey FROM customer)
         )
         SELECT n_child, n_null_key, n_orphans, n_orphan_keys,
           round(CASE WHEN n_child > n_null_key
             THEN CAST(n_orphans AS DOUBLE) / (n_child - n_null_key)
             ELSE 0 END + 1e-9, 6) AS orphan_share
         FROM nulls, orph""",

    // q243: the distinct-value grid, running counts, ⌈p·n⌉ ranks, and
    // the first-row-reaching-rank pick — all exact.
    "q243_percentiles" ->
      """WITH grid AS (
           SELECT CAST(n_chars AS DOUBLE) AS v, CAST(count(*) AS BIGINT) AS t
           FROM documents WHERE n_chars IS NOT NULL GROUP BY v
         ), nn AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM grid
         ), cum AS (
           SELECT v, t, CAST(sum(t) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS c
           FROM grid
         ), ps AS (
           SELECT CAST(unnest([0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0])
             AS DOUBLE) AS p
         ), ranked AS (
           SELECT p, greatest(CAST(ceil(p * (SELECT n FROM nn)) AS BIGINT),
             1) AS rank
           FROM ps
         )
         SELECT r.p, r.rank, c.v AS value
         FROM ranked r JOIN cum c ON c.c >= r.rank AND c.c - c.t < r.rank
         ORDER BY r.p""",

    // q239: both category grids, the full-outer zero-filled join, and
    // the identical PSI / homogeneity-χ² IEEE arithmetic.
    "q239_categorical_drift" ->
      """WITH ref AS (
           SELECT coalesce(CAST(lang AS VARCHAR), '<null>') AS category
           FROM documents WHERE doc_id % 2 = 0
         ), cur AS (
           SELECT coalesce(CAST(CASE WHEN doc_id % 11 = 0 THEN 'xx'
             ELSE lang END AS VARCHAR), '<null>') AS category
           FROM documents WHERE doc_id % 2 = 1
         ), g1 AS (
           SELECT category, CAST(count(*) AS BIGINT) AS n_ref
           FROM ref GROUP BY category
         ), g2 AS (
           SELECT category, CAST(count(*) AS BIGINT) AS n_cur
           FROM cur GROUP BY category
         ), j AS (
           SELECT coalesce(g1.category, g2.category) AS category,
             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
           FROM g1 FULL JOIN g2 ON g1.category = g2.category
         ), w AS (
           SELECT *,
             CAST(sum(n_ref) OVER () AS BIGINT) AS nr,
             CAST(sum(n_cur) OVER () AS BIGINT) AS nc,
             CAST(n_ref + n_cur AS DOUBLE) AS ti
           FROM j
         ), s AS (
           SELECT *,
             greatest(n_ref / CAST(nr AS DOUBLE), 0.0001) AS p,
             greatest(n_cur / CAST(nc AS DOUBLE), 0.0001) AS q,
             nr * ti / (nr + nc) AS er,
             nc * ti / (nr + nc) AS ec
           FROM w
         )
         SELECT category, n_ref, n_cur,
           round(p, 6) AS p, round(q, 6) AS q,
           round((p - q) * ln(p / q), 6) AS psi_contrib,
           round(sum((p - q) * ln(p / q)) OVER () + 1e-9, 6) AS psi_total,
           round(sum((n_ref - er) * (n_ref - er) / er
             + (n_cur - ec) * (n_cur - ec) / ec) OVER () + 1e-9, 4)
             AS chi2_total
         FROM s ORDER BY category""",

    // q238: wedge pairing from sub-cap centers, the same three scores
    // (ln() — DuckDB log() is base-10), existing-edge anti-join via
    // NOT EXISTS.
    "q238_link_predict" ->
      """WITH und AS (
           SELECT DISTINCT least(l_partkey * 2, l_suppkey * 2 + 1) AS a,
             greatest(l_partkey * 2, l_suppkey * 2 + 1) AS b
           FROM lineitem
         ), nb AS MATERIALIZED (
           SELECT a AS w, b AS x FROM und
           UNION ALL SELECT b, a FROM und
         ), deg AS MATERIALIZED (
           SELECT w, CAST(count(*) AS BIGINT) AS deg FROM nb GROUP BY w
         ), centers AS (
           SELECT nb.w, nb.x FROM nb JOIN deg ON deg.w = nb.w
           WHERE deg.deg <= 50
         ), scored AS (
           SELECT n1.x AS src, n2.x AS dst,
             CAST(count(*) AS BIGINT) AS common,
             sum(1.0 / ln(CAST(d.deg AS DOUBLE))) AS aa
           FROM centers n1
           JOIN centers n2 ON n1.w = n2.w AND n1.x < n2.x
           JOIN deg d ON d.w = n1.w
           GROUP BY n1.x, n2.x
           HAVING count(*) >= 2
         ), novel AS (
           SELECT s.* FROM scored s
           WHERE NOT EXISTS (
             SELECT 1 FROM und WHERE und.a = s.src AND und.b = s.dst)
         )
         SELECT n.src, n.dst, n.common,
           round(CAST(n.common AS DOUBLE) / (da.deg + db.deg - n.common)
             + 1e-9, 6) AS jaccard,
           round(n.aa + 1e-9, 6) AS adamic_adar
         FROM novel n
         JOIN deg da ON da.w = n.src
         JOIN deg db ON db.w = n.dst
         ORDER BY n.src, n.dst""",

    "q234_louvain_bipartite" -> louvainOracleSql(passes = 4,
      prCtes = """WITH pr AS MATERIALIZED (
           SELECT DISTINCT least(l_partkey * 2, l_suppkey * 2 + 1) AS x,
                  greatest(l_partkey * 2, l_suppkey * 2 + 1) AS y
           FROM lineitem)"""),

    // q319: the full two-level Louvain replayed over the direct
    // bipartite graph (the q234 prCtes, the q318 unroll device).
    "q319_louvain_full_bipartite" -> louvainFullOracleSql(passes = 2,
      prCtes = """WITH pr AS MATERIALIZED (
           SELECT DISTINCT least(l_partkey * 2, l_suppkey * 2 + 1) AS x,
                  greatest(l_partkey * 2, l_suppkey * 2 + 1) AS y
           FROM lineitem)"""),

    // q203: HITS unrolled — two normalized half-steps per iteration,
    // every (raw · M) // Σraw replayed on exact BIGINTs.
    "q203_hits" -> hitsOracleSql(iterations = 2, scale = 1000000L),

    // q204: the Welch formula replayed on exact ×100 sums — identical
    // IEEE inputs → identical t and Welch–Satterthwaite df.
    "q204_ab_ttest" ->
      """WITH f AS (
           SELECT event_type AS g, round(value * 100) AS v FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'view')
         ), a AS (
           SELECT
             CAST(count(CASE WHEN g = 'click' THEN 1 END) AS BIGINT) AS na,
             COALESCE(sum(CASE WHEN g = 'click' THEN v END), 0) AS sa,
             COALESCE(sum(CASE WHEN g = 'click' THEN v * v END), 0) AS s2a,
             CAST(count(CASE WHEN g = 'view' THEN 1 END) AS BIGINT) AS nb,
             COALESCE(sum(CASE WHEN g = 'view' THEN v END), 0) AS sb,
             COALESCE(sum(CASE WHEN g = 'view' THEN v * v END), 0) AS s2b
           FROM f
         ), st AS (
           SELECT na, nb, sa / na AS ma, sb / nb AS mb,
             greatest(s2a - sa * sa / na, 0.0) / (na - 1) AS va,
             greatest(s2b - sb * sb / nb, 0.0) / (nb - 1) AS vb
           FROM a
         ), se AS (
           SELECT *, va / na + vb / nb AS se2 FROM st
         )
         SELECT na AS n_a, nb AS n_b,
           round(ma / 100 + 1e-9, 4) AS mean_a,
           round(mb / 100 + 1e-9, 4) AS mean_b,
           round(va / 10000 + 1e-9, 4) AS var_a,
           round(vb / 10000 + 1e-9, 4) AS var_b,
           round(CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0
             THEN (ma - mb) / sqrt(se2) END + 1e-9, 4) AS t,
           round(CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0
             THEN se2 * se2 / ((va / na) * (va / na) / (na - 1)
               + (vb / nb) * (vb / nb) / (nb - 1)) END + 1e-9, 4) AS df,
           round(CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0
             THEN (ma - mb) / sqrt(((na - 1) * va + (nb - 1) * vb)
               / (na + nb - 2)) END + 1e-9, 4) AS cohen_d
         FROM se""",

    // q205: contingency cells, marginals, full grid with absent cells,
    // and the textbook (o−e)²/e reduction.
    // q235: per-group moments on exact cent sums, the identical
    // SSB/SSW/F arithmetic; S·S may pass 2⁵³ but both engines multiply
    // IDENTICAL doubles, so the product is bit-equal.
    "q235_anova" ->
      """WITH per AS (
           SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n,
             sum(round(value * 100)) AS s,
             sum(round(value * 100) * round(value * 100)) AS s2
           FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
           GROUP BY event_type
         ), a AS (
           SELECT CAST(sum(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             sum(s) AS st, sum(s2) AS s2t,
             sum(s * s / CAST(n AS DOUBLE)) AS b
           FROM per
         )
         SELECT n, k,
           round(greatest(b - st * st / CAST(n AS DOUBLE), 0) / 10000.0
             + 1e-9, 4) AS ss_between,
           round(greatest(s2t - b, 0) / 10000.0 + 1e-9, 4) AS ss_within,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within,
           round(CASE WHEN k >= 2 AND n - k >= 1 AND greatest(s2t - b, 0) > 0
             THEN (greatest(b - st * st / CAST(n AS DOUBLE), 0) / (k - 1))
               / (greatest(s2t - b, 0) / (n - k)) END + 1e-9, 4) AS f
         FROM a""",

    // q250: the same lgamma log-PMF over the full k support, inclusion
    // under the observed PMF × (1+1e-7).
    "q250_fisher_exact" ->
      """WITH cnt AS (
           SELECT
             CAST(count(CASE WHEN r AND c THEN 1 END) AS BIGINT) AS a,
             CAST(count(CASE WHEN r AND NOT c THEN 1 END) AS BIGINT) AS b,
             CAST(count(CASE WHEN NOT r AND c THEN 1 END) AS BIGINT) AS c,
             CAST(count(CASE WHEN NOT r AND NOT c THEN 1 END) AS BIGINT)
               AS d
           FROM (SELECT doc_id % 2 = 0 AS r, n_chars % 2 = 0 AS c
             FROM documents WHERE n_chars IS NOT NULL)
         ), par AS (
           SELECT a, b, c, d, a + b AS r1, c + d AS r2, a + c AS c1,
             a + b + c + d AS n
           FROM cnt
         ), ks AS (
           SELECT unnest(generate_series(
             greatest(0, (SELECT c1 - r2 FROM par)),
             least((SELECT r1 FROM par), (SELECT c1 FROM par)))) AS k
         ), lp AS (
           SELECT k,
             lgamma(p.r1 + 1) + lgamma(p.r2 + 1) + lgamma(p.c1 + 1)
               + lgamma(p.n - p.c1 + 1) - lgamma(p.n + 1) - lgamma(k + 1)
               - lgamma(p.r1 - k + 1) - lgamma(p.c1 - k + 1)
               - lgamma(p.r2 - p.c1 + k + 1) AS l
           FROM ks, par p
         )
         SELECT a, b, c, d,
           CASE WHEN b > 0 AND c > 0 THEN
             round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)
               + 1e-9, 6) END AS odds_ratio,
           round(least((SELECT sum(exp(l)) FROM lp
             WHERE l <= (SELECT l FROM lp, par WHERE k = par.a)
               + ln(1 + 1e-7)), 1.0) + 1e-9, 6) AS p_two_sided
         FROM par""",

    // q249: per-group true medians via the grid rank-pick, |v−m| frame,
    // then the q235 anova reduction on z.
    "q249_levene" ->
      """WITH f AS (
           SELECT event_type AS g, round(value * 100) AS v FROM events
           WHERE value IS NOT NULL AND event_type IS NOT NULL
         ), grid AS (
           SELECT g, v, CAST(count(*) AS BIGINT) AS t FROM f GROUP BY g, v
         ), cum AS (
           SELECT g, v, t,
             CAST(sum(t) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS c,
             CAST(sum(t) OVER (PARTITION BY g) AS BIGINT) AS n
           FROM grid
         ), med AS (
           SELECT m1.g, (m1.v + m2.v) / 2.0 AS m
           FROM (SELECT g, v FROM cum
             WHERE c >= (n + 1) // 2 AND c - t < (n + 1) // 2) m1
           JOIN (SELECT g, v FROM cum
             WHERE c >= n // 2 + 1 AND c - t < n // 2 + 1) m2
           ON m1.g = m2.g
         ), z AS (
           SELECT f.g, abs(f.v - med.m) AS z
           FROM f JOIN med ON med.g = f.g
         ), per AS (
           SELECT g, CAST(count(*) AS BIGINT) AS n, sum(z) AS s,
             sum(z * z) AS s2
           FROM z GROUP BY g
         ), a AS (
           SELECT CAST(sum(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             sum(s) AS st, sum(s2) AS s2t,
             sum(s * s / CAST(n AS DOUBLE)) AS b
           FROM per
         )
         SELECT n, k,
           round(greatest(b - st * st / CAST(n AS DOUBLE), 0) / 10000.0
             + 1e-9, 4) AS ss_between,
           round(greatest(s2t - b, 0) / 10000.0 + 1e-9, 4) AS ss_within,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within,
           round(CASE WHEN k >= 2 AND n - k >= 1 AND greatest(s2t - b, 0) > 0
             THEN (greatest(b - st * st / CAST(n AS DOUBLE), 0) / (k - 1))
               / (greatest(s2t - b, 0) / (n - k)) END + 1e-9, 4) AS w
         FROM a""",

    // q236: the MWU distinct-value midrank machinery generalized to k
    // groups; the identical H / tie-correction arithmetic.
    "q236_kruskal_wallis" ->
      """WITH f AS (
           SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL AND event_type IS NOT NULL
         ), cells AS (
           SELECT v, g, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY v, g
         ), perv AS (
           SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY v
         ), mids AS (
           SELECT v, t,
             COALESCE(sum(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (t + 1) / 2.0 AS mid
           FROM perv
         ), perg AS (
           SELECT g, CAST(sum(c) AS BIGINT) AS ng, sum(c * mid) AS rg
           FROM cells JOIN mids USING (v) GROUP BY g
         ), tie AS (
           SELECT COALESCE(sum(CAST(t AS DOUBLE) * t * t - t), 0) AS tc
           FROM perv
         ), a AS (
           SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             sum(rg * rg / CAST(ng AS DOUBLE)) AS r
           FROM perg
         )
         SELECT n, k, CAST(k - 1 AS BIGINT) AS df,
           round(CASE WHEN k >= 2 AND n >= 2
             THEN 12.0 / (n * (n + 1)) * r - 3.0 * (n + 1) END + 1e-9, 4)
             AS h,
           round(CASE WHEN k >= 2 AND n >= 2
               AND 1.0 - tc / (CAST(n AS DOUBLE) * n * n - n) > 0
             THEN (12.0 / (n * (n + 1)) * r - 3.0 * (n + 1))
               / (1.0 - tc / (CAST(n AS DOUBLE) * n * n - n)) END + 1e-9, 4)
             AS h_adj
         FROM a CROSS JOIN tie""",

    // q237: the portable md5 p-draw, the distinct-p BH grid (run-end
    // index, reverse running min), and the pre-rounding reject compare.
    "q237_fdr" ->
      """WITH t AS (
           SELECT doc_id,
             CAST(('0x' || substring(md5('fdr§' || CAST(doc_id AS VARCHAR)),
               1, 15)) AS BIGINT) % 1000000 / 1000000.0 AS p
           FROM documents
         ), grid AS (
           SELECT p, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY p
         ), nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM grid
         ), j AS (
           SELECT p, sum(c) OVER (ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS jhi
           FROM grid
         ), q AS (
           SELECT p,
             least(min(p * (SELECT n FROM nn) / jhi) OVER (ORDER BY p
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 1.0)
               AS q_value
           FROM j
         )
         SELECT t.doc_id, round(t.p, 6) AS p,
           round(q.q_value + 1e-9, 6) AS q_value,
           q.q_value <= 0.1 AS reject
         FROM t JOIN q ON q.p = t.p
         ORDER BY t.doc_id""",

    // q327: Friedman replayed — per-user cells, within-user midranks
    // (avg over the tie run is rank-order-free), exact rank sums, the
    // chi2 chain with the per-row t²−1 tie-cubic trick.
    "q327_friedman" ->
      """WITH cells AS (
           SELECT user_id AS s, event_type AS t,
             sum(round(value * 100)) AS v
           FROM events
           WHERE user_id IS NOT NULL AND value IS NOT NULL
             AND event_type IS NOT NULL
           GROUP BY user_id, event_type
         ), complete AS (
           SELECT s FROM cells GROUP BY s HAVING count(*) = 5
         ), cc AS MATERIALIZED (
           SELECT c.s, c.t, c.v FROM cells c JOIN complete USING (s)
         ), ranked AS (
           SELECT s, t, v,
             row_number() OVER (PARTITION BY s ORDER BY v, t) AS rn
           FROM cc
         ), mid AS (
           SELECT s, t,
             avg(rn) OVER (PARTITION BY s, v) AS mid,
             count(*) OVER (PARTITION BY s, v) AS trun
           FROM ranked
         ), rj AS (
           SELECT CAST(count(*) AS BIGINT) AS k,
             COALESCE(sum(r2 * r2), 0) AS sr2
           FROM (SELECT t, sum(mid) AS r2 FROM mid GROUP BY t)
         ), tt AS (
           SELECT CAST(count(*) // 5 AS BIGINT) AS n_subjects,
             COALESCE(sum(CAST(trun AS DOUBLE) * trun - 1), 0) AS tc
           FROM mid
         )
         SELECT n_subjects, k, k - 1 AS df,
           round(12.0 * sr2 / (CAST(n_subjects AS DOUBLE) * k * (k + 1))
             - 3.0 * n_subjects * (k + 1) + 1e-9, 4) AS chi2,
           round(CASE WHEN 1.0 - tc / (CAST(n_subjects AS DOUBLE)
                 * (k * k * k - k)) > 0
             THEN (12.0 * sr2 / (CAST(n_subjects AS DOUBLE) * k * (k + 1))
               - 3.0 * n_subjects * (k + 1))
               / (1.0 - tc / (CAST(n_subjects AS DOUBLE)
                 * (k * k * k - k)))
             END + 1e-9, 4) AS chi2_adj
         FROM tt, rj""",

    // q326: Holm replayed on the same grid device — first-index tie
    // term (n - jlo + 1)·p, prefix max, clamp, pre-round reject.
    "q326_holm" ->
      """WITH t AS (
           SELECT doc_id,
             CAST(('0x' || substring(md5('holm§' || CAST(doc_id AS VARCHAR)),
               1, 15)) AS BIGINT) % 1000000 / 1000000.0 AS p
           FROM documents
         ), grid AS (
           SELECT p, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY p
         ), nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM grid
         ), j AS (
           SELECT p, COALESCE(sum(c) OVER (ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
             AS jlo
           FROM grid
         ), a AS (
           SELECT p,
             least(max(CAST((SELECT n FROM nn) - jlo + 1 AS DOUBLE) * p)
               OVER (ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)
               AS p_adj
           FROM j
         )
         SELECT t.doc_id, round(t.p, 6) AS p,
           round(a.p_adj + 1e-9, 6) AS p_adj,
           a.p_adj <= 0.1 AS reject
         FROM t JOIN a ON a.p = t.p
         ORDER BY t.doc_id""",

    "q205_chi_square" ->
      """WITH src AS (
           SELECT event_type AS r, CAST(floor(value / 100) AS INT) AS c
           FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
         ), obs AS (
           SELECT r, c, CAST(count(*) AS BIGINT) AS o FROM src GROUP BY r, c
         ), rt AS (SELECT r, sum(o) AS rt FROM obs GROUP BY r
         ), ct AS (SELECT c, sum(o) AS ct FROM obs GROUP BY c
         ), tot AS (SELECT sum(o) AS n FROM obs
         ), grid AS (
           SELECT rt.r, ct.c, COALESCE(obs.o, 0) AS o, rt.rt, ct.ct,
             (SELECT n FROM tot) AS n
           FROM rt CROSS JOIN ct
           LEFT JOIN obs ON obs.r = rt.r AND obs.c = ct.c
         )
         SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT c) AS BIGINT) AS n_cols,
           (count(DISTINCT r) - 1) * (count(DISTINCT c) - 1) AS dof,
           round(sum(pow(o - rt * ct / CAST(n AS DOUBLE), 2)
             / (rt * ct / CAST(n AS DOUBLE))) + 1e-9, 4) AS chi2
         FROM grid""",

    // q231: the ranked Gini formula on exact per-user cent totals.
    "q231_gini" ->
      """WITH per AS (
           SELECT user_id, sum(round(value * 100)) AS spend
           FROM events WHERE value IS NOT NULL GROUP BY user_id
         ), rk AS (
           SELECT spend,
             row_number() OVER (ORDER BY spend, user_id) AS i
           FROM per
         ), a AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             COALESCE(sum(spend), 0) AS total,
             COALESCE(sum(i * spend), 0) AS iv
           FROM rk
         )
         SELECT n, round(total / 100.0, 4) AS total,
           round(CASE WHEN total > 0
             THEN 2.0 * iv / (n * total) - (n + 1.0) / n END + 1e-9, 4)
             AS gini
         FROM a""",

    // q230: brute-force triangles (the q197 spec) + wedge sum from
    // degrees → the 3T/W ratio on exact integers.
    "q230_transitivity" ->
      """WITH m AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), pr AS (
           SELECT a.s AS x, b.s AS y FROM m a JOIN m b
             ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 150
         ), deg AS (
           SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
             SELECT x AS node FROM pr UNION ALL SELECT y FROM pr)
           GROUP BY node
         ), t AS (
           SELECT e1.x AS a, e1.y AS b, e2.y AS c
           FROM pr e1 JOIN pr e2 ON e2.x = e1.y
           JOIN pr e3 ON e3.x = e1.x AND e3.y = e2.y
         ), agg AS (
           SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges,
             (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_triangles
           FROM deg
         )
         SELECT n_nodes, n_wedges, n_triangles,
           round(CASE WHEN n_wedges > 0
             THEN 3.0 * n_triangles / n_wedges END + 1e-9, 4)
             AS transitivity
         FROM agg""",

    // q229: per-user aggregates + corpus max day + three ntile
    // orderings with id tiebreaks.
    "q229_rfm" ->
      """WITH per AS (
           SELECT user_id,
             max(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS lastd,
             CAST(count(DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT))
               AS BIGINT) AS frequency,
             COALESCE(sum(round(value * 100)), 0) AS monetary
           FROM events WHERE ts IS NOT NULL
           GROUP BY user_id
         ), mx AS (SELECT max(lastd) AS m FROM per
         ), sc AS (
           SELECT user_id, (SELECT m FROM mx) - lastd AS recency_days,
             frequency, monetary,
             CAST(ntile(5) OVER (ORDER BY (SELECT m FROM mx) - lastd,
               user_id) AS INT) AS r_score,
             CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id)
               AS INT) AS f_score,
             CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id)
               AS INT) AS m_score
           FROM per
         )
         SELECT user_id, recency_days, frequency,
           round(monetary / 100.0, 4) AS monetary,
           r_score, f_score, m_score
         FROM sc ORDER BY user_id""",

    // q227: dedupe → per-user active-day count → histogram.
    "q227_activity_histogram" ->
      """WITH ud AS (
           SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
           FROM events WHERE ts IS NOT NULL
         ), per AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS buckets_active
           FROM ud GROUP BY user_id
         )
         SELECT buckets_active, CAST(count(*) AS BIGINT) AS n_entities
         FROM per GROUP BY buckets_active ORDER BY buckets_active""",

    // q228: the (user, day) dedupe + per-user first day → daily
    // new/returning split.
    "q228_new_vs_returning" ->
      """WITH ud AS (
           SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
           FROM events WHERE ts IS NOT NULL
         ), f AS (
           SELECT user_id, d,
             min(d) OVER (PARTITION BY user_id) AS fd
           FROM ud
         )
         SELECT
           TIMESTAMP '1970-01-01 00:00:00' + d * 86400
             * INTERVAL 1 SECOND AS day_ts,
           CAST(count(CASE WHEN d = fd THEN 1 END) AS BIGINT)
             AS new_users,
           CAST(count(CASE WHEN d <> fd THEN 1 END) AS BIGINT)
             AS returning_users
         FROM f GROUP BY d ORDER BY day_ts""",

    // q226: the (user, day) distinct frame, the window explode into
    // trailing MAU membership, and the grid join — all exact counts.
    "q226_stickiness" ->
      """WITH ud AS (
           SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
           FROM events WHERE ts IS NOT NULL
         ), span AS (
           SELECT min(d) AS lo, max(d) AS hi FROM ud
         ), dau AS (
           SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY d
         ), mau AS (
           SELECT md AS d, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
           FROM (SELECT user_id, unnest(range(d, d + 7)) AS md FROM ud)
           GROUP BY md
         ), grid AS (
           SELECT unnest(range(lo, hi + 1)) AS d FROM span
         )
         SELECT
           TIMESTAMP '1970-01-01 00:00:00' + grid.d * 86400
             * INTERVAL 1 SECOND AS day_ts,
           COALESCE(dau.dau, 0) AS dau, COALESCE(mau.mau, 0) AS mau,
           CASE WHEN COALESCE(mau.mau, 0) > 0
             THEN round(CAST(COALESCE(dau.dau, 0) AS DOUBLE) / mau.mau
               + 1e-9, 4) END AS stickiness
         FROM grid LEFT JOIN mau ON mau.d = grid.d
         LEFT JOIN dau ON dau.d = grid.d
         ORDER BY day_ts""",

    // q225: the q192 chain + first-event segment assignment + the
    // per-segment stack and lag.
    "q225_funnel_by_segment" ->
      """WITH base AS (
           SELECT user_id, event_type AS t, epoch_us(ts) AS us FROM events
           WHERE event_type IN ('view', 'click', 'purchase')
             AND ts IS NOT NULL
         ), s1 AS (
           SELECT *, min(CASE WHEN t = 'view' THEN us END)
             OVER (PARTITION BY user_id) AS t1 FROM base
         ), s2 AS (
           SELECT *, min(CASE WHEN t = 'click' AND us > t1
               AND us <= t1 + 259200000000 THEN us END)
             OVER (PARTITION BY user_id) AS t2 FROM s1
         ), s3 AS (
           SELECT *, min(CASE WHEN t = 'purchase' AND us > t2
               AND us <= t1 + 259200000000 THEN us END)
             OVER (PARTITION BY user_id) AS t3 FROM s2
         ), per AS (
           SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
           FROM s3 GROUP BY user_id
         ), fe AS (
           SELECT user_id, props,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS rn
           FROM events WHERE ts IS NOT NULL
         ), segs AS (
           SELECT user_id, CAST(
             CAST(regexp_extract(props, '[0-9]+') AS INT) % 4 AS VARCHAR)
             AS segment
           FROM fe WHERE rn = 1
         ), agg AS (
           SELECT segment,
             CAST(count(t1) AS BIGINT) AS c1,
             CAST(count(t2) AS BIGINT) AS c2,
             CAST(count(t3) AS BIGINT) AS c3
           FROM per JOIN segs ON segs.user_id = per.user_id
           GROUP BY segment
         ), r AS (
           SELECT segment, 1 AS step_idx, 'view' AS step, c1 AS users, c1
           FROM agg
           UNION ALL SELECT segment, 2, 'click', c2, c1 FROM agg
           UNION ALL SELECT segment, 3, 'purchase', c3, c1 FROM agg
         ), f AS (
           SELECT segment, step_idx, step, users, c1,
             lag(users) OVER (PARTITION BY segment ORDER BY step_idx)
               AS pu
           FROM r
         )
         SELECT segment, step_idx, step, users,
           CASE WHEN c1 > 0
             THEN round(CAST(users AS DOUBLE) / c1 + 1e-9, 4) END
             AS conv_overall,
           CASE WHEN pu > 0
             THEN round(CAST(users AS DOUBLE) / pu + 1e-9, 4) END
             AS conv_step
         FROM f ORDER BY segment, step_idx""",

    // q224: the one-sample formula on exact whole-dollar differences.
    "q224_paired_ttest" ->
      """WITH f AS (
           SELECT round(l_extendedprice)
             - round(l_extendedprice * (1 - l_discount)) AS d
           FROM lineitem
         ), a AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             COALESCE(sum(d), 0) AS s, COALESCE(sum(d * d), 0) AS s2
           FROM f
         ), st AS (
           SELECT n, s / n AS md,
             greatest(s2 - s * s / n, 0.0) / (n - 1) AS vd
           FROM a
         )
         SELECT n, round(md + 1e-9, 4) AS mean_diff,
           round(vd + 1e-9, 4) AS var_diff,
           round(CASE WHEN n >= 2 AND vd > 0
             THEN md / sqrt(vd / n) END + 1e-9, 4) AS t,
           n - 1 AS df
         FROM st""",

    // q223: endpoint-degree pairs in both orientations, one moment
    // reduction — the product-moment r on identical exact sums.
    "q223_assortativity" ->
      """WITH m AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), pr AS (
           SELECT a.s AS x, b.s AS y FROM m a JOIN m b
             ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 150
         ), deg AS (
           SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
             SELECT x AS node FROM pr UNION ALL SELECT y FROM pr)
           GROUP BY node
         ), pairs AS (
           SELECT da.d AS dx, db.d AS dy FROM pr
             JOIN deg da ON da.node = pr.x JOIN deg db ON db.node = pr.y
         ), sym AS (
           SELECT CAST(dx AS DOUBLE) AS x, CAST(dy AS DOUBLE) AS y
           FROM pairs
           UNION ALL SELECT CAST(dy AS DOUBLE), CAST(dx AS DOUBLE)
           FROM pairs
         ), mm AS (
           SELECT CAST(count(*) AS BIGINT) AS n2,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
           FROM sym
         )
         SELECT CAST(n2 / 2 AS BIGINT) AS n_edges,
           round(CASE WHEN n2 * sxx - sx * sx > 0
               AND n2 * syy - sy * sy > 0
             THEN (n2 * sxy - sx * sy) /
               sqrt((n2 * sxx - sx * sx) * (n2 * syy - sy * sy)) END
             + 1e-9, 4) AS r
         FROM mm""",

    // q222: the personalized recursion unrolled — the full teleport
    // pool ((n·scale·3)//20) plus damped dangling mass splits over the
    // seeds; non-seeds receive in-mass only.
    "q222_trustrank" ->
      """WITH f AS (
           SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem
         ), e AS (
           SELECT src, dst FROM f
           UNION SELECT dst AS src, src AS dst FROM f
         ), nd AS (
           SELECT src AS node FROM e UNION SELECT dst FROM e
         ), deg AS (
           SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
           FROM e GROUP BY src
         ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd
         ), sds AS (
           SELECT DISTINCT l_suppkey * 2 + 1 AS node FROM lineitem
           WHERE l_suppkey <= 5
         ), ns AS (SELECT CAST(count(*) AS BIGINT) AS k FROM sds
         ), r0 AS (
           SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nd
         ), d1 AS (
           SELECT COALESCE(SUM((r.rank * 17) // 20), 0) AS dg
           FROM r0 r LEFT JOIN deg d ON d.node = r.node
           WHERE d.node IS NULL
         ), i1 AS (
           SELECT e.dst AS node, SUM((r.rank * 17) // (20 * d.outdeg)) AS im
           FROM e JOIN r0 r ON r.node = e.src
             JOIN deg d ON d.node = e.src
           GROUP BY e.dst
         ), r1 AS (
           SELECT nd.node, COALESCE(i1.im, 0) +
             CASE WHEN nd.node IN (SELECT node FROM sds)
               THEN ((SELECT n FROM nn) * 1000000000 * 3 // 20
                 + (SELECT dg FROM d1)) // (SELECT k FROM ns)
               ELSE 0 END AS rank
           FROM nd LEFT JOIN i1 ON i1.node = nd.node
         ), d2 AS (
           SELECT COALESCE(SUM((r.rank * 17) // 20), 0) AS dg
           FROM r1 r LEFT JOIN deg d ON d.node = r.node
           WHERE d.node IS NULL
         ), i2 AS (
           SELECT e.dst AS node, SUM((r.rank * 17) // (20 * d.outdeg)) AS im
           FROM e JOIN r1 r ON r.node = e.src
             JOIN deg d ON d.node = e.src
           GROUP BY e.dst
         ), r2 AS (
           SELECT nd.node, COALESCE(i2.im, 0) +
             CASE WHEN nd.node IN (SELECT node FROM sds)
               THEN ((SELECT n FROM nn) * 1000000000 * 3 // 20
                 + (SELECT dg FROM d2)) // (SELECT k FROM ns)
               ELSE 0 END AS rank
           FROM nd LEFT JOIN i2 ON i2.node = nd.node
         ), d3 AS (
           SELECT COALESCE(SUM((r.rank * 17) // 20), 0) AS dg
           FROM r2 r LEFT JOIN deg d ON d.node = r.node
           WHERE d.node IS NULL
         ), i3 AS (
           SELECT e.dst AS node, SUM((r.rank * 17) // (20 * d.outdeg)) AS im
           FROM e JOIN r2 r ON r.node = e.src
             JOIN deg d ON d.node = e.src
           GROUP BY e.dst
         ), r3 AS (
           SELECT nd.node, COALESCE(i3.im, 0) +
             CASE WHEN nd.node IN (SELECT node FROM sds)
               THEN ((SELECT n FROM nn) * 1000000000 * 3 // 20
                 + (SELECT dg FROM d3)) // (SELECT k FROM ns)
               ELSE 0 END AS rank
           FROM nd LEFT JOIN i3 ON i3.node = nd.node
         )
         SELECT node, CAST(rank AS BIGINT) AS rank,
           CAST(rank AS DOUBLE) /
             CAST((SELECT n FROM nn) * 1000000000 AS DOUBLE) AS score
         FROM r3 ORDER BY node""",

    // q221: the ACF special case — same-series cells on both sides.
    "q221_autocorrelation" ->
      """WITH ca AS (
           SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             sum(round(value * 100)) AS v
           FROM events
           WHERE ts IS NOT NULL AND value IS NOT NULL
             AND event_type = 'view'
           GROUP BY b
         ), lags AS (
           SELECT CAST(unnest(range(0, 7)) AS INT) AS lag
         ), al AS (
           SELECT lags.lag, a.v AS va, b.v AS vb
           FROM ca a CROSS JOIN lags
           JOIN ca b ON b.b = a.b + lags.lag * 3600
         ), m AS (
           SELECT lag, CAST(count(*) AS BIGINT) AS n,
             sum(va) AS sx, sum(vb) AS sy, sum(va * vb) AS sxy,
             sum(va * va) AS sxx, sum(vb * vb) AS syy
           FROM al GROUP BY lag
         )
         SELECT lag, n,
           round(CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
               AND n * syy - sy * sy > 0
             THEN (n * sxy - sx * sy) /
               sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END
             + 1e-9, 4) AS r
         FROM m ORDER BY lag""",

    // q220: per-side hourly cells, the lag-shifted inner alignment, and
    // the per-lag product-moment r on exact sums.
    "q220_cross_correlation" ->
      """WITH ca AS (
           SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             sum(round(value * 100)) AS va
           FROM events
           WHERE ts IS NOT NULL AND value IS NOT NULL
             AND event_type = 'click'
           GROUP BY b
         ), cb AS (
           SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             sum(round(value * 100)) AS vb
           FROM events
           WHERE ts IS NOT NULL AND value IS NOT NULL
             AND event_type = 'purchase'
           GROUP BY b
         ), lags AS (
           SELECT CAST(unnest(range(-3, 4)) AS INT) AS lag
         ), al AS (
           SELECT lags.lag, ca.va, cb.vb
           FROM ca CROSS JOIN lags
           JOIN cb ON cb.b = ca.b + lags.lag * 3600
         ), m AS (
           SELECT lag, CAST(count(*) AS BIGINT) AS n,
             sum(va) AS sx, sum(vb) AS sy, sum(va * vb) AS sxy,
             sum(va * va) AS sxx, sum(vb * vb) AS syy
           FROM al GROUP BY lag
         )
         SELECT lag, n,
           round(CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
               AND n * syy - sy * sy > 0
             THEN (n * sxy - sx * sy) /
               sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END
             + 1e-9, 4) AS r
         FROM m ORDER BY lag""",

    // q219: equivalence classes + the threshold reductions replayed on
    // exact counts.
    "q219_anonymity_report" ->
      """WITH cls AS (
           SELECT coalesce(CAST(c_nationkey AS VARCHAR), '<null>') AS nk,
             coalesce(CAST(c_mktsegment AS VARCHAR), '<null>') AS seg,
             CAST(count(*) AS BIGINT) AS sz,
             CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS INT))
               AS BIGINT) AS dv
           FROM customer GROUP BY nk, seg
         )
         SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_classes,
           min(sz) AS min_class_size,
           CAST(count(CASE WHEN sz < 20 THEN 1 END) AS BIGINT)
             AS n_small_classes,
           CAST(COALESCE(sum(CASE WHEN sz < 20 THEN sz END), 0) AS BIGINT)
             AS rows_at_risk,
           min(dv) AS min_diversity,
           CAST(count(CASE WHEN dv < 5 THEN 1 END) AS BIGINT)
             AS n_low_diversity_classes
         FROM cls""",

    // q218: the portable Poisson draws (md5 → uniform → inverse CDF),
    // per-resample weighted means, and the sorted order-statistic picks
    // replayed end to end.
    "q218_bootstrap_ci" ->
      """WITH base AS (
           SELECT event_id, round(value * 100) AS v FROM events
           WHERE value IS NOT NULL
         ), reps AS (
           SELECT unnest(range(0, 100)) AS r
         ), drawn AS (
           SELECT r.r, base.v,
             CAST(('0x' || substring(md5('bootq§' || CAST(r.r AS VARCHAR)
               || '§' || CAST(base.event_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1000000 / 1000000.0 AS u
           FROM base CROSS JOIN reps r
         ), wtd AS (
           SELECT r, v,
             CASE WHEN u < 0.36787944117144233 THEN 0
                  WHEN u < 0.7357588823428847 THEN 1
                  WHEN u < 0.9196986029286058 THEN 2
                  WHEN u < 0.9810118431238462 THEN 3
                  WHEN u < 0.9963401531726563 THEN 4
                  WHEN u < 0.9994058151824183 THEN 5
                  WHEN u < 0.9999167588507119 THEN 6
                  WHEN u < 0.9999897508033253 THEN 7
                  ELSE 8 END AS w
           FROM drawn
         ), means AS (
           SELECT sum(w * v) / sum(w) AS m FROM wtd
           GROUP BY r HAVING sum(w) > 0
         ), arr AS (
           SELECT list_sort(list(m)) AS a FROM means
         ), ci AS (
           SELECT
             a[greatest(1, CAST(ceil(len(a) * 0.025) AS INT))] AS ci_lo,
             a[least(len(a), CAST(ceil(len(a) * 0.975) AS INT))] AS ci_hi
           FROM arr
         ), overall AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             sum(v) / count(*) AS mean FROM base
         )
         SELECT overall.n, 100 AS b,
           round(overall.mean / 100.0 + 1e-9, 4) AS mean,
           round(ci.ci_lo / 100.0 + 1e-9, 4) AS ci_lo,
           round(ci.ci_hi / 100.0 + 1e-9, 4) AS ci_hi
         FROM overall CROSS JOIN ci""",

    // q217: pair counts + per-supplier part-set degrees → the Jaccard
    // division on the identical longs.
    "q217_projection_jaccard" ->
      """WITH m AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), deg AS (
           SELECT s, CAST(count(*) AS BIGINT) AS d FROM m GROUP BY s
         ), pr AS (
           SELECT a.s AS src, b.s AS dst, CAST(count(*) AS BIGINT) AS shared
           FROM m a JOIN m b ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 150
         )
         SELECT pr.src, pr.dst, pr.shared,
           round(CAST(pr.shared AS DOUBLE) / (da.d + db.d - pr.shared)
             + 1e-9, 4) AS weight
         FROM pr JOIN deg da ON da.s = pr.src JOIN deg db ON db.s = pr.dst
         ORDER BY pr.src, pr.dst""",

    // q216: component labels via the q198 reachability closure, then
    // the modularity terms — within-community edges / m minus squared
    // half-degree fractions.
    "q216_modularity" ->
      """WITH RECURSIVE mm AS (
           SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
         ), pr AS (
           SELECT a.s AS x, b.s AS y FROM mm a JOIN mm b
             ON a.p = b.p AND a.s < b.s
           GROUP BY a.s, b.s HAVING count(*) >= 160
         ), e2 AS (
           SELECT x AS src, y AS dst FROM pr UNION SELECT y, x FROM pr
         ), nodes AS (
           SELECT DISTINCT src AS node FROM e2
         ), r AS (
           SELECT node, node AS reach FROM nodes
           UNION
           SELECT r.node, e2.dst FROM r JOIN e2 ON e2.src = r.reach
         ), lab AS (
           SELECT node, min(reach) AS c FROM r GROUP BY node
         ), led AS (
           SELECT pr.x AS a, pr.y AS b, la.c AS ca, lb.c AS cb
           FROM pr JOIN lab la ON la.node = pr.x
             JOIN lab lb ON lb.node = pr.y
         ), tot AS (
           SELECT CAST(count(*) AS BIGINT) AS m FROM led
         ), wth AS (
           SELECT ca AS c, CAST(count(*) AS BIGINT) AS e_c FROM led
           WHERE ca = cb GROUP BY ca
         ), deg AS (
           SELECT c, CAST(count(*) AS BIGINT) AS d_c FROM (
             SELECT ca AS c FROM led UNION ALL SELECT cb FROM led)
           GROUP BY c
         )
         SELECT (SELECT m FROM tot) AS m,
           CAST(count(*) AS BIGINT) AS n_communities,
           round(sum(
             COALESCE(wth.e_c, 0) / CAST((SELECT m FROM tot) AS DOUBLE)
             - pow(deg.d_c / (2.0 * (SELECT m FROM tot)), 2)) + 1e-9, 4)
             AS q
         FROM deg LEFT JOIN wth ON wth.c = deg.c""",

    // q215: the product-moment fit replayed on the same exact sums —
    // per-key time origin, five moments, identical IEEE slope math.
    "q215_trend" ->
      """WITH cells AS (
           SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             sum(round(value * 100)) AS v
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, b
         ), spans AS (
           SELECT event_type, min(b) AS lo, max(b) AS hi FROM cells
           GROUP BY event_type
         ), grid AS (
           SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
           FROM spans
         ), j AS (
           SELECT g.event_type, g.b, coalesce(c.v, 0.0) AS v
           FROM grid g LEFT JOIN cells c
             ON c.event_type = g.event_type AND c.b = g.b
         ), sh AS (
           SELECT event_type,
             CAST(b - min(b) OVER (PARTITION BY event_type) AS DOUBLE) AS t,
             v
           FROM j
         ), m AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(t) AS st, sum(v) AS sv, sum(t * v) AS stv,
             sum(t * t) AS stt
           FROM sh GROUP BY event_type
         ), fit AS (
           SELECT event_type, n,
             CASE WHEN n >= 2 AND n * stt - st * st > 0
               THEN (n * stv - st * sv) / (n * stt - st * st) END AS slope,
             st, sv
           FROM m
         )
         SELECT event_type, n,
           round(slope * 86400 / 100.0 + 1e-9, 4) AS slope_per_day,
           round((sv - slope * st) / n / 100.0 + 1e-9, 4) AS intercept
         FROM fit ORDER BY event_type""",

    // q214: both CUSUM recursions replayed exactly — list_reduce over
    // the ordered prefix with a prepended 0 initial state; all steps
    // integral so the folds are bit-identical.
    "q214_cusum" ->
      """WITH cells AS (
           SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS n,
             sum(round(value * 100)) AS v
           FROM events WHERE ts IS NOT NULL
           GROUP BY event_type, b
         ), spans AS (
           SELECT event_type, min(b) AS lo, max(b) AS hi FROM cells
           GROUP BY event_type
         ), grid AS (
           SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS b
           FROM spans
         ), j AS (
           SELECT g.event_type, g.b, coalesce(c.n, 0) AS n,
             coalesce(c.v, 0.0) AS v
           FROM grid g LEFT JOIN cells c
             ON c.event_type = g.event_type AND c.b = g.b
         )
         SELECT event_type,
           TIMESTAMP '1970-01-01 00:00:00' + b * INTERVAL 1 SECOND
             AS bucket_ts,
           round(v / 100.0, 4) AS value,
           round(list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
               list(v) OVER (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             (acc, e) -> greatest(CAST(0 AS DOUBLE),
               acc + e - 35000 - 5000)) / 100.0, 4) AS cusum_hi,
           round(list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
               list(v) OVER (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             (acc, e) -> least(CAST(0 AS DOUBLE),
               acc + e - 35000 + 5000)) / 100.0, 4) AS cusum_lo
         FROM j ORDER BY event_type, bucket_ts""",

    // q212: the q192 funnel chain extended with per-step timing
    // aggregates — exact µs differences, whole-second div, mean over
    // exact sums.
    "q212_funnel_timing" ->
      """WITH base AS (
           SELECT user_id, event_type AS t, epoch_us(ts) AS us FROM events
           WHERE event_type IN ('view', 'click', 'purchase')
             AND ts IS NOT NULL
         ), s1 AS (
           SELECT *, min(CASE WHEN t = 'view' THEN us END)
             OVER (PARTITION BY user_id) AS t1 FROM base
         ), s2 AS (
           SELECT *, min(CASE WHEN t = 'click' AND us > t1
               AND us <= t1 + 259200000000 THEN us END)
             OVER (PARTITION BY user_id) AS t2 FROM s1
         ), s3 AS (
           SELECT *, min(CASE WHEN t = 'purchase' AND us > t2
               AND us <= t1 + 259200000000 THEN us END)
             OVER (PARTITION BY user_id) AS t3 FROM s2
         ), per AS (
           SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
           FROM s3 GROUP BY user_id
         ), agg AS (
           SELECT CAST(count(t1) AS BIGINT) AS c1,
             CAST(count(t2) AS BIGINT) AS c2,
             CAST(min((t2 - t1) // 1000000) AS BIGINT) AS mn2,
             CAST(max((t2 - t1) // 1000000) AS BIGINT) AS mx2,
             COALESCE(sum(t2 - t1), 0) AS s2,
             CAST(count(t3) AS BIGINT) AS c3,
             CAST(min((t3 - t1) // 1000000) AS BIGINT) AS mn3,
             CAST(max((t3 - t1) // 1000000) AS BIGINT) AS mx3,
             COALESCE(sum(t3 - t1), 0) AS s3
           FROM per
         ), r AS (
           SELECT 1 AS step_idx, 'view' AS step, c1 AS users,
             CAST(NULL AS BIGINT) AS min_sec, CAST(NULL AS BIGINT) AS max_sec,
             CAST(NULL AS DOUBLE) AS avg_sec FROM agg
           UNION ALL SELECT 2, 'click', c2, mn2, mx2,
             CASE WHEN c2 > 0
               THEN round(s2 * 1.0 / c2 / 1000000 + 1e-9, 4) END FROM agg
           UNION ALL SELECT 3, 'purchase', c3, mn3, mx3,
             CASE WHEN c3 > 0
               THEN round(s3 * 1.0 / c3 / 1000000 + 1e-9, 4) END FROM agg
         )
         SELECT * FROM r ORDER BY step_idx""",

    // q213: product-moment r from one pass of exact moment sums
    // (integral ×100 inputs), identical IEEE arithmetic per pair.
    "q213_correlation_matrix" ->
      """WITH f AS (
           SELECT l_quantity AS q, round(l_discount * 100) AS d,
             round(l_tax * 100) AS t
           FROM lineitem
         ), a AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             sum(q) AS sq, sum(d) AS sd, sum(t) AS st,
             sum(q * d) AS sqd, sum(q * t) AS sqt, sum(d * t) AS sdt,
             sum(q * q) AS sqq, sum(d * d) AS sdd, sum(t * t) AS stt
           FROM f
         ), p AS (
           SELECT 'disc100' AS col_a, 'tax100' AS col_b, n,
             n * sdt - sd * st AS cov,
             n * sdd - sd * sd AS vx, n * stt - st * st AS vy FROM a
           UNION ALL SELECT 'l_quantity', 'disc100', n,
             n * sqd - sq * sd, n * sqq - sq * sq, n * sdd - sd * sd FROM a
           UNION ALL SELECT 'l_quantity', 'tax100', n,
             n * sqt - sq * st, n * sqq - sq * sq, n * stt - st * st FROM a
         )
         SELECT col_a, col_b, n,
           round(CASE WHEN n >= 2 AND vx > 0 AND vy > 0
             THEN cov / sqrt(vx * vy) END + 1e-9, 4) AS r
         FROM p ORDER BY col_a, col_b""",

    // q211: key counts, top-10 by (n desc, key), shares over the same
    // exact longs.
    "q211_skew_report" ->
      """WITH c AS (
           SELECT CAST(l_suppkey AS VARCHAR) AS key,
             CAST(count(*) AS BIGINT) AS n
           FROM lineitem GROUP BY l_suppkey
         ), t AS (
           SELECT sum(n) AS total, CAST(count(*) AS BIGINT) AS n_distinct
           FROM c
         ), r AS (
           SELECT key, n,
             CAST(row_number() OVER (ORDER BY n DESC, key) AS INT) AS rank,
             sum(n) OVER (ORDER BY n DESC, key
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM c
         )
         SELECT rank, key, n,
           CAST((SELECT total FROM t) AS BIGINT) AS total,
           (SELECT n_distinct FROM t) AS n_distinct,
           round(CAST(n AS DOUBLE) / (SELECT total FROM t) + 1e-9, 4)
             AS share,
           round(CAST(cum AS DOUBLE) / (SELECT total FROM t) + 1e-9, 4)
             AS cum_share
         FROM r WHERE rank <= 10 ORDER BY rank""",

    // q209: twin ignore-nulls last_value windows over the same
    // 1-PRECEDING frame — both fields from the same touch row — and
    // the conversion-window gate on exact micros.
    "q209_attribution" ->
      """WITH f AS (
           SELECT user_id, event_id, event_type AS t, epoch_us(ts) AS us
           FROM events
           WHERE ts IS NOT NULL
             AND event_type IN ('purchase', 'click', 'view')
         ), l AS (
           SELECT *,
             last_value(CASE WHEN t IN ('click', 'view') THEN t END
               IGNORE NULLS) OVER w AS lt,
             last_value(CASE WHEN t IN ('click', 'view') THEN us END
               IGNORE NULLS) OVER w AS lus
           FROM f
           WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         )
         SELECT user_id, event_id, make_timestamp(us) AS conv_ts,
           CASE WHEN lus IS NOT NULL AND us - lus <= 259200000000
             THEN lt END AS touch_type,
           CASE WHEN lus IS NOT NULL AND us - lus <= 259200000000
             THEN make_timestamp(lus) END AS touch_ts,
           CASE WHEN lus IS NOT NULL AND us - lus <= 259200000000
             THEN (us - lus) // 1000000 END AS gap_sec
         FROM l WHERE t = 'purchase'
         ORDER BY user_id, event_id""",

    // q210: min-hop depths via a recursive reachability closure capped
    // at the same depth.
    "q210_bfs_depths" ->
      """WITH RECURSIVE f AS (
           SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem
         ), e AS (
           SELECT src, dst FROM f UNION SELECT dst, src FROM f
         ), seeds AS (
           SELECT DISTINCT l_suppkey * 2 + 1 AS node FROM lineitem
           WHERE l_suppkey <= 3
         ), r AS (
           SELECT node, 0 AS d FROM seeds
           UNION
           SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.node
           WHERE r.d < 4
         )
         SELECT node, CAST(min(d) AS INT) AS depth FROM r GROUP BY node
         ORDER BY node""",

    // q325: per-landmark reachability via the q210 recursive CTE with
    // the landmark carried through; exact 12/d integer harmonic sum.
    "q325_harmonic" ->
      """WITH RECURSIVE f AS (
           SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem
         ), e AS (
           SELECT src, dst FROM f UNION SELECT dst, src FROM f
         ), seeds AS (
           SELECT DISTINCT l_suppkey * 2 + 1 AS node FROM lineitem
           WHERE l_suppkey <= 3
         ), r AS (
           SELECT node AS landmark, node, 0 AS d FROM seeds
           UNION
           SELECT r.landmark, e.dst, r.d + 1
           FROM r JOIN e ON e.src = r.node WHERE r.d < 4
         ), md AS (
           SELECT landmark, node, CAST(min(d) AS BIGINT) AS d
           FROM r GROUP BY landmark, node
         )
         SELECT node, CAST(count(*) AS BIGINT) AS n_reached,
           CAST(sum(d) AS BIGINT) AS dist_sum,
           CAST(CAST(sum(12 // d) AS BIGINT) AS DOUBLE) / 12 AS harmonic
         FROM md WHERE d > 0 GROUP BY node
         ORDER BY node""",

    // q207: four exact counts → pooled-SE z replayed identically.
    "q207_proportion_ztest" ->
      """WITH f AS (
           SELECT event_type AS g, (value > 250) AS hi FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'view')
         ), a AS (
           SELECT
             CAST(count(CASE WHEN g = 'click' THEN 1 END) AS BIGINT) AS na,
             CAST(count(CASE WHEN g = 'click' AND hi THEN 1 END) AS BIGINT)
               AS sa,
             CAST(count(CASE WHEN g = 'view' THEN 1 END) AS BIGINT) AS nb,
             CAST(count(CASE WHEN g = 'view' AND hi THEN 1 END) AS BIGINT)
               AS sb
           FROM f
         ), p AS (
           SELECT *, CAST(sa AS DOUBLE) / na AS pa,
             CAST(sb AS DOUBLE) / nb AS pb,
             CAST(sa + sb AS DOUBLE) / (na + nb) AS pp
           FROM a
         )
         SELECT na AS n_a, sa AS s_a, nb AS n_b, sb AS s_b,
           round(pa + 1e-9, 4) AS p_a, round(pb + 1e-9, 4) AS p_b,
           round(CASE WHEN na >= 1 AND nb >= 1 AND pp > 0 AND pp < 1
             THEN (pa - pb) / sqrt(pp * (1 - pp) * (1.0 / na + 1.0 / nb))
             END + 1e-9, 4) AS z
         FROM p""",

    // q208: per-value cumulative counts → CDF steps dividing identical
    // BIGINTs; the max-abs-difference gates raw (no rounding).
    "q208_ks_test" ->
      """WITH f AS (
           SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'view')
         ), byv AS (
           SELECT v,
             CAST(count(CASE WHEN g = 'click' THEN 1 END) AS BIGINT) AS ca,
             CAST(count(CASE WHEN g = 'view' THEN 1 END) AS BIGINT) AS cb
           FROM f GROUP BY v
         ), tot AS (
           SELECT sum(ca) AS na, sum(cb) AS nb FROM byv
         ), c AS (
           SELECT v,
             sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumA,
             sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumB
           FROM byv
         )
         SELECT CAST((SELECT na FROM tot) AS BIGINT) AS n_a,
           CAST((SELECT nb FROM tot) AS BIGINT) AS n_b,
           max(abs(CAST(cumA AS DOUBLE) / (SELECT na FROM tot)
             - CAST(cumB AS DOUBLE) / (SELECT nb FROM tot))) AS d
         FROM c""",

    // q206: midranks (rank + (ties−1)/2 — exact dyadics) and the U
    // statistics, bit-exact with no rounding.
    "q206_mann_whitney" ->
      """WITH f AS (
           SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'view')
         ), rk AS (
           SELECT g, v, rank() OVER (ORDER BY v) AS r,
             count(*) OVER (PARTITION BY v) AS ties
           FROM f
         ), mid AS (
           SELECT g, r + (ties - 1) / 2.0 AS m FROM rk
         ), agg AS (
           SELECT
             CAST(count(CASE WHEN g = 'click' THEN 1 END) AS BIGINT) AS n_a,
             CAST(count(CASE WHEN g = 'view' THEN 1 END) AS BIGINT) AS n_b,
             COALESCE(sum(CASE WHEN g = 'click' THEN m END), 0) AS r_a,
             COALESCE(sum(CASE WHEN g = 'view' THEN m END), 0) AS r_b
           FROM mid
         )
         SELECT n_a, n_b,
           r_a - n_a * (n_a + 1) / 2.0 AS u_a,
           r_b - n_b * (n_b + 1) / 2.0 AS u_b,
           r_a, r_b
         FROM agg""",

    // q188: TPC-H Q12 shape — fact-fact join, conditional counts per
    // return flag (shipmode stand-in); 1996 slice only.
    "q188_tpch12" ->
      """SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-12-31'
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    // q185: centroid cosines and group z-scores replayed — element-wise
    // avg centroid, list cosine, avg/stddev_samp per label; singleton or
    // zero-variance groups yield NULL z on both engines.
    "q185_embedding_outliers" ->
      """WITH e AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE embedding IS NOT NULL
         ), ex AS (
           SELECT label, CAST(generate_subscripts(v, 1) - 1 AS INT) AS i,
             unnest(v) AS x
           FROM e
         ), cent AS (
           SELECT label, list(mu ORDER BY i) AS c FROM (
             SELECT label, i, avg(x) AS mu FROM ex GROUP BY label, i)
           GROUP BY label
         ), n AS (
           SELECT label, count(*) AS n_members FROM e GROUP BY label
         ), cosx AS (
           SELECT e.vec_id, e.label, list_cosine_similarity(e.v, cent.c) AS cosv
           FROM e JOIN cent USING (label)
         ), st AS (
           SELECT label, avg(cosv) AS mu, stddev_samp(cosv) AS sd
           FROM cosx GROUP BY label
         )
         SELECT c.vec_id, c.label, n.n_members,
           round(c.cosv, 6) AS cos_centroid,
           CASE WHEN st.sd IS NULL OR st.sd = 0 THEN NULL
                ELSE round((c.cosv - st.mu) / st.sd, 6) END AS z
         FROM cosx c JOIN st USING (label) JOIN n USING (label)
         ORDER BY c.vec_id""",

    // q184: the assigned-codebook quantizer replayed — the synthetic
    // centroids are exact binary quarters, so the l2 argmax
    // (2·x·c − |c|², ties toward the smaller cell) is deterministic.
    "q184_pq_assigned" ->
      """WITH cb AS (
           SELECT ss.s AS s, cc.cell AS cell, ii.i AS i,
             CAST(((ss.s * 31 + cc.cell * 7 + ii.i * 3) % 11 - 5) / 4.0
                  AS DOUBLE) AS cv
           FROM (SELECT unnest(range(0, 8)) AS s) ss,
                (SELECT unnest(range(0, 16)) AS cell) cc,
                (SELECT unnest(range(0, 8)) AS i) ii
         ), sc AS (
           SELECT e.vec_id, cb.s, cb.cell,
             sum(CAST(e.embedding[cb.s * 8 + cb.i + 1] AS DOUBLE) * cb.cv) AS d,
             sum(cb.cv * cb.cv) AS cc2
           FROM embeddings e, cb
           GROUP BY e.vec_id, cb.s, cb.cell
         )
         SELECT vec_id, CAST(s AS INTEGER) AS s, CAST(cell AS INTEGER) AS code
         FROM (
           SELECT vec_id, s, cell,
             row_number() OVER (PARTITION BY vec_id, s
                                ORDER BY 2 * d - cc2 DESC, cell) AS rn
           FROM sc) WHERE rn = 1
         ORDER BY vec_id, s""",

    // q181: the PQ quantizer replayed from the shared md5 sign formula —
    // subspace ss of 8 uses sign rows [ss·16, (ss+1)·16) over its 8-dim
    // slice; code = argmax projection (ties toward the smaller cell).
    "q181_pq_encode" ->
      """WITH signs AS (
           SELECT jj.j AS j, ii.i AS i,
             CASE WHEN (CAST(('0x' || substring(
                    md5(CAST(jj.j AS VARCHAR) || '_' || CAST(ii.i AS VARCHAR)),
                    1, 15)) AS BIGINT) & 1) = 1 THEN 1 ELSE -1 END AS sg
           FROM (SELECT unnest(range(0, 128)) AS j) jj,
                (SELECT unnest(range(0, 8)) AS i) ii
         ), proj AS (
           SELECT e.vec_id, g.j // 16 AS ss, g.j % 16 AS c,
             sum(CAST(e.embedding[(g.j // 16) * 8 + g.i + 1] AS DOUBLE)
                 * g.sg) AS p
           FROM embeddings e, signs g
           GROUP BY e.vec_id, ss, c
         )
         SELECT vec_id, CAST(ss AS INTEGER) AS s, CAST(c AS INTEGER) AS code
         FROM (
           SELECT vec_id, ss, c,
             row_number() OVER (PARTITION BY vec_id, ss
                                ORDER BY p DESC, c) AS rn
           FROM proj) WHERE rn = 1
         ORDER BY vec_id, s""",

    // q182: exhaustive shortlist ⇒ the exact rerank sees every candidate
    // ⇒ ADC kNN equals exact top-k by construction (the q40/q98 gating
    // pattern for approximate retrieval paths).
    "q182_pq_knn" -> knnExactOracle,

    // q317: the pruned-probe IVF replayed end-to-end — coarse centroids
    // read from the table (vec_id ≡ 1 mod 6, cell = vec_id DIV 6),
    // routing by argmax 2x·c − |c|² (sequential index-order dot
    // products, bit-identical to the kernel), top-3 probed cells per
    // query, exact cosine top-5 within probed candidates (shortlist ≥
    // corpus makes ADC ordering immaterial), then per-query hit counts
    // vs brute top-5 and the mean-recall floor.
    "q317_ivf_recall" ->
      """WITH coarse AS (
           SELECT CAST(vec_id // 6 AS INTEGER) AS cell, embedding
           FROM embeddings WHERE vec_id % 6 = 1 AND vec_id < 48
         ), sc AS (
           SELECT e.vec_id, c.cell,
             2 * list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[]))
               - list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[])) AS s
           FROM embeddings e, coarse c
         ), assign AS MATERIALIZED (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY s DESC, cell) AS rn FROM sc) WHERE rn = 1
         ), probes AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY s DESC, cell) AS rn
             FROM sc WHERE vec_id < 10) WHERE rn <= 3
         ), cand AS (
           SELECT p.vec_id AS q, a.vec_id AS n
           FROM probes p JOIN assign a
             ON a.cell = p.cell AND a.vec_id <> p.vec_id
         ), ivf AS (
           SELECT q, n FROM (
             SELECT c.q, c.n, row_number() OVER (PARTITION BY c.q
               ORDER BY list_cosine_similarity(
                 CAST(qe.embedding AS DOUBLE[]),
                 CAST(ne.embedding AS DOUBLE[])) DESC, c.n) AS rk
             FROM cand c
             JOIN embeddings qe ON qe.vec_id = c.q
             JOIN embeddings ne ON ne.vec_id = c.n) WHERE rk <= 5
         ), brute AS (
           SELECT q, n FROM (
             SELECT qe.vec_id AS q, ne.vec_id AS n,
               row_number() OVER (PARTITION BY qe.vec_id
                 ORDER BY list_cosine_similarity(
                   CAST(qe.embedding AS DOUBLE[]),
                   CAST(ne.embedding AS DOUBLE[])) DESC, ne.vec_id) AS rk
             FROM embeddings qe JOIN embeddings ne
               ON ne.vec_id <> qe.vec_id
             WHERE qe.vec_id < 10) WHERE rk <= 5
         ), hits AS (
           SELECT b.q AS queryId,
             CAST(sum(CASE WHEN i.n IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hits
           FROM brute b LEFT JOIN ivf i ON i.q = b.q AND i.n = b.n
           GROUP BY b.q
         ), m AS (
           SELECT CAST(sum(n_hits) AS DOUBLE)
             / (count(*) * 5) AS mean_recall FROM hits
         )
         SELECT queryId, n_hits,
           CAST(n_hits AS DOUBLE) / 5.0 AS recall,
           mean_recall, mean_recall >= 0.6 AS meets_floor
         FROM hits, m ORDER BY queryId""",

    // q153: the dominant bin of a frame holding exactly c full sine
    // cycles is bin c — the planted sequence replays as arithmetic.
    "q153_audio_fingerprint" ->
      """SELECT doc_id, CAST(f.f AS INTEGER) AS frame,
           CAST(3 + (doc_id * 7 + f.f * 11) % 97 AS INTEGER) AS bin
         FROM documents, range(4) AS f(f)
         ORDER BY doc_id, frame""",

    // q154: brute-force replay of the (frame, bin) agreement count over
    // the planted sibling construction.
    "q154_audio_neardup" ->
      """WITH fp AS (
           SELECT doc_id, f.f AS frame,
             3 + ((doc_id % 250) * 7 + f.f * 11) % 97 +
               (CASE WHEN doc_id >= 250 AND doc_id % 2 = 1 AND f.f = 0
                     THEN 1 ELSE 0 END) AS bin
           FROM documents, range(4) AS f(f)
         )
         SELECT a.doc_id AS idA, b.doc_id AS idB,
           CAST(count(*) AS BIGINT) AS n_matches
         FROM fp a JOIN fp b
           ON a.frame = b.frame AND a.bin = b.bin AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 3
         ORDER BY idA, idB""",

    // q155: exact-kNN replay with the label-mismatch condition in the
    // join, same rounding/tie discipline as q38.
    "q155_hard_negatives" ->
      """WITH scored AS (
           SELECT q.vec_id AS anchorId, c.vec_id AS negativeId,
             c.label AS negativeLabel,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS c_raw
           FROM embeddings q JOIN embeddings c
             ON c.vec_id <> q.vec_id AND c.label <> q.label
           WHERE q.vec_id < 10
         ), ranked AS (
           SELECT anchorId, negativeId, negativeLabel, c_raw,
             row_number() OVER (PARTITION BY anchorId
                                ORDER BY c_raw DESC, negativeId) AS rank
           FROM scored
         )
         SELECT anchorId, negativeId, negativeLabel,
           round(c_raw, 6) AS cosine, CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5 ORDER BY anchorId, rank""",

    // q156: the exact top-5 replayed, deterministically degraded, and
    // the recall arithmetic recomputed per query.
    "q156_knn_recall" ->
      """WITH scored AS (
           SELECT q.vec_id AS queryId, c.vec_id AS neighborId,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS c_raw
           FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 10
         ), ranked AS (
           SELECT queryId, neighborId,
             row_number() OVER (PARTITION BY queryId
                                ORDER BY c_raw DESC, neighborId) AS rank
           FROM scored
         ), exact AS (
           SELECT queryId, neighborId FROM ranked WHERE rank <= 5
         ), degraded AS (
           SELECT * FROM exact WHERE (queryId + neighborId) % 3 <> 0
         )
         SELECT e.queryId,
           CAST(count(d.neighborId) AS BIGINT) AS n_hit,
           CAST(count(*) AS BIGINT) AS n_exact,
           round(count(d.neighborId) / CAST(count(*) AS DOUBLE), 6) AS recall
         FROM exact e LEFT JOIN degraded d
           ON e.queryId = d.queryId AND e.neighborId = d.neighborId
         GROUP BY e.queryId ORDER BY e.queryId""",

    // q157: hardest positive = rank 1 ascending among same-label,
    // hardest negative = rank 1 descending among different-label; inner
    // join drops anchors lacking either side.
    "q157_triplet_mine" ->
      """WITH scored AS (
           SELECT q.vec_id AS anchorId, c.vec_id AS candidateId,
             c.label AS cl, q.label AS ql,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS c_raw
           FROM embeddings q JOIN embeddings c
             ON c.vec_id <> q.vec_id
             AND c.label IS NOT NULL AND q.label IS NOT NULL
           WHERE q.vec_id < 10
         ), pos AS (
           SELECT anchorId, candidateId AS positiveId, c_raw AS pcos,
             row_number() OVER (PARTITION BY anchorId
                                ORDER BY c_raw ASC, candidateId) AS r
           FROM scored WHERE cl = ql
         ), neg AS (
           SELECT anchorId, candidateId AS negativeId, c_raw AS ncos,
             row_number() OVER (PARTITION BY anchorId
                                ORDER BY c_raw DESC, candidateId) AS r
           FROM scored WHERE cl <> ql
         )
         SELECT p.anchorId, p.positiveId, n.negativeId,
           round(p.pcos, 6) AS pos_cosine, round(n.ncos, 6) AS neg_cosine
         FROM pos p JOIN neg n ON p.anchorId = n.anchorId
         WHERE p.r = 1 AND n.r = 1
         ORDER BY p.anchorId""",

    // q145: the cluster representative is the min id by construction;
    // the draw is the same salted-md5 convention both engines compute.
    // q145: the cluster representative is the min id of the shingle-SET
    // equality class, not blindly `id` — natural duplicate texts (present
    // at sf0.1) merge {a, b, a+1M, b+1M} into ONE cluster drawn by
    // md5 of a, and the engine correctly keeps that whole cluster on one
    // side (the old per-pair oracle broke at 10× the gate scale).
    "q145_leakage_safe_split" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents
         ), sh AS (
           SELECT doc_id,
             CASE WHEN len(ts) >= 3 THEN
               list_sort(list_distinct(list_transform(range(1, len(ts)-1),
                 i -> ts[i] || chr(1) || ts[i+1] || chr(1) || ts[i+2])))::VARCHAR
             ELSE 'short:' || doc_id END AS key
           FROM toks
         ), r0 AS (
           SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS rep
           FROM sh
         ), r AS (
           SELECT doc_id, rep FROM r0
           UNION ALL SELECT doc_id + 1000000, rep FROM r0
         )
         SELECT doc_id,
           CASE WHEN (CAST(('0x' || substring(md5('s5§' || CAST(rep AS VARCHAR)), 1, 15))
                        AS BIGINT) % 1000000) / 1000000.0 < 0.8
                THEN 'train' ELSE 'test' END AS split
         FROM r ORDER BY doc_id""",

    // q146: entropy and TTR recomputed by unnest-group-sum over the
    // identical tokenizer; both engines round to 6.
    "q146_text_diversity" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f]+'),
                         t -> len(t) > 0) AS t
           FROM documents
         ), cnt AS (
           SELECT doc_id, tok, count(*) AS c
           FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
           GROUP BY doc_id, tok
         ), st AS (
           SELECT doc_id, sum(c) AS n, count(*) AS n_types FROM cnt GROUP BY doc_id
         ), ent AS (
           SELECT cnt.doc_id, round(sum(-(c / st.n) * ln(c / st.n)), 6) AS entropy
           FROM cnt JOIN st USING (doc_id) GROUP BY cnt.doc_id
         )
         SELECT toks.doc_id,
           CAST(len(toks.t) AS INT) AS n_tokens,
           coalesce(ent.entropy, 0.0) AS entropy,
           coalesce(round(st.n_types / CAST(st.n AS DOUBLE), 6), 0.0) AS ttr
         FROM toks LEFT JOIN st ON toks.doc_id = st.doc_id
                   LEFT JOIN ent ON toks.doc_id = ent.doc_id
         ORDER BY toks.doc_id""",

    // q147: both source rankings and every 1/(k+rank) term replayed;
    // two-term IEEE addition is order-exact, both engines round to 6
    // BEFORE the fused ranking so ties resolve identically.
    "q147_rrf_fusion" ->
      """WITH a AS (
           SELECT lang, doc_id, row_number() OVER (
             PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS r
           FROM documents
         ), b AS (
           SELECT lang, doc_id, row_number() OVER (
             PARTITION BY lang ORDER BY
               CAST(('0x' || substring(md5('rrf§' || CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT), doc_id) AS r
           FROM documents
         ), u AS (
           SELECT lang, doc_id, 1.0 / (60 + r) AS c FROM a WHERE r <= 20
           UNION ALL
           SELECT lang, doc_id, 1.0 / (60 + r) AS c FROM b WHERE r <= 20
         ), s AS (
           SELECT lang, doc_id, round(sum(c), 6) AS rrf_score
           FROM u GROUP BY lang, doc_id
         ), f AS (
           SELECT *, row_number() OVER (
             PARTITION BY lang ORDER BY rrf_score DESC, doc_id) AS fused_rank
           FROM s
         )
         SELECT lang, doc_id, rrf_score,
           CAST(fused_rank AS INTEGER) AS fused_rank FROM f
         WHERE fused_rank <= 10 ORDER BY lang, fused_rank""",

    // q144: element-wise mean replayed by unnest-and-avg, rounded to 6
    // in both engines (double accumulation order differs).
    "q144_group_centroids" ->
      """WITH e AS (
           SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim_idx,
             unnest(embedding) AS v
           FROM embeddings WHERE embedding IS NOT NULL
         ), c AS (
           SELECT label, count(*) AS n_members
           FROM embeddings WHERE embedding IS NOT NULL GROUP BY label
         )
         SELECT e.label, e.dim_idx,
           round(avg(CAST(v AS DOUBLE)), 6) AS mu, c.n_members
         FROM e JOIN c USING (label)
         GROUP BY e.label, e.dim_idx, c.n_members
         ORDER BY label, dim_idx""",

    // q137/q138: temperature mixing — weights replayed by pow/share
    // arithmetic; the sample by the same md5 draw over the rounded
    // keep-fraction.
    "q137_temperature_weights" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         w AS (SELECT lang, n, pow(n, 0.5) AS wt FROM c),
         t AS (SELECT sum(wt) AS tot FROM w)
         SELECT w.lang, w.n,
           round(w.wt / t.tot, 6) AS share,
           round(least(1.0, (w.wt / t.tot) * 300 / w.n), 6) AS keep_fraction
         FROM w CROSS JOIN t ORDER BY w.lang""",

    "q138_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         w AS (SELECT lang, n, pow(n, 0.5) AS wt FROM c),
         t AS (SELECT sum(wt) AS tot FROM w),
         f AS (SELECT w.lang,
                 round(least(1.0, (w.wt / t.tot) * 300 / w.n), 6) AS frac
               FROM w CROSS JOIN t)
         SELECT d.lang, d.doc_id, d.n_chars
         FROM documents d JOIN f ON f.lang = d.lang
         WHERE (CAST(('0x' || substring(md5('r5t§' || CAST(d.doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 1000000) < f.frac * 1000000.0
         ORDER BY d.lang, d.doc_id""",

    // q136: the composite-strata draw replayed row-exact (q132's idiom
    // with a tuple CASE and a non-zero default fraction).
    "q136_sample_composite_strata" ->
      """SELECT source, lang, doc_id, n_chars
         FROM documents
         WHERE (CAST(('0x' || substring(md5('r5§' || CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 1000000)
               < (CASE WHEN source = 'src0' AND lang = 'en' THEN 1.0
                       WHEN source = 'src1' AND lang = 'en' THEN 0.5
                       WHEN source = 'src0' AND lang = 'de' THEN 0.25
                       WHEN source = 'src2' AND lang = 'zh' THEN 0.0
                       ELSE 0.3 END) * 1000000.0
         ORDER BY source, lang, doc_id""",

    // q135: the AVI's lossless planted structure replayed by arithmetic
    // (gray levels are JPEG-lossy — spec-bounded, not gated).
    "q135_avi_frames" ->
      """WITH f AS (
           SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS frame_idx
           FROM documents
         )
         SELECT doc_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(12 + (doc_id % 4) * 2 AS INTEGER) AS width,
           CAST(10 + (doc_id % 3) * 2 AS INTEGER) AS height,
           'jpeg' AS format
         FROM f ORDER BY doc_id, frame_idx""",

    // q133: the portable-banding occupancy report replayed from the
    // md5-sign signatures (same sig CTEs as q37/q39; 15 bands × 4 bits
    // is exactly the 60-bit signature). DuckDB's integer sum widens to
    // HUGEINT, so every counter is cast back to BIGINT.
    "q133_lsh_cap_report" -> (portableSigCtes +
      """, banded AS (
           SELECT bb.b AS band, ((sh >> (bb.b * 4)) & 15) AS bucket
           FROM sh, (SELECT unnest(range(0, 15)) AS b) bb
         ), occ AS (
           SELECT band, bucket, count(*) AS n FROM banded GROUP BY band, bucket
         )
         SELECT count(*) AS n_buckets,
           CAST(count(CASE WHEN n > 40 THEN 1 END) AS BIGINT) AS n_dropped_buckets,
           CAST(coalesce(sum(CASE WHEN n > 40 THEN n END), 0) AS BIGINT)
             AS rows_in_dropped_buckets,
           CAST(coalesce(max(n), 0) AS BIGINT) AS max_occupancy
         FROM occ ORDER BY n_buckets"""),

    // q134: shortlist truncation from plain corpus counts.
    "q134_shortlist_report" ->
      """WITH tot AS (SELECT count(*) AS n FROM embeddings WHERE embedding IS NOT NULL),
         q AS (SELECT vec_id AS queryId FROM embeddings WHERE vec_id < 10),
         slf AS (SELECT vec_id AS queryId, count(*) AS s FROM embeddings
                 WHERE embedding IS NOT NULL GROUP BY vec_id)
         SELECT q.queryId,
           CAST(t.n - coalesce(slf.s, 0) AS BIGINT) AS n_candidates,
           CAST(least(t.n - coalesce(slf.s, 0), 50) AS BIGINT) AS n_shortlisted,
           CAST(greatest(t.n - coalesce(slf.s, 0) - 50, 0) AS BIGINT) AS n_truncated
         FROM q CROSS JOIN tot t LEFT JOIN slf ON slf.queryId = q.queryId
         ORDER BY q.queryId""",

    // q131: the batch equivalent of the streamed enrichment join.
    "q131_stream_enrich" ->
      """WITH dim AS (
           SELECT * FROM (VALUES
             ('click', 'engagement'), ('view', 'engagement'),
             ('purchase', 'revenue'), ('signup', 'revenue'),
             ('error', 'ops')) AS v(event_type, category)
         )
         SELECT d.category, count(*) AS n, round(sum(e.value), 4) AS sum_value
         FROM events e JOIN dim d USING (event_type)
         GROUP BY d.category ORDER BY d.category""",

    // q130: statuses replayed by the same construction arithmetic —
    // the whitespace-only mutation (%10==5) must land 'unchanged'.
    "q130_corpus_diff" ->
      """WITH v AS (
           SELECT doc_id FROM documents
           UNION ALL
           SELECT doc_id + 100000 FROM documents WHERE doc_id % 11 = 0
         )
         SELECT doc_id,
           CASE WHEN doc_id >= 100000 THEN 'added'
                WHEN doc_id % 13 = 0 THEN 'removed'
                WHEN doc_id % 10 = 5 THEN 'unchanged'
                WHEN doc_id % 5 = 0 THEN 'changed'
                ELSE 'unchanged' END AS status
         FROM v ORDER BY doc_id""",

    // q128: every 32-bit code word recomputed with a bigint shift.
    "q128_bin_encode" ->
      """SELECT vec_id,
         CAST(list_sum(list_transform(range(0, 32), j ->
           CASE WHEN embedding[j + 1] > 0
                THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS code_w0,
         CAST(list_sum(list_transform(range(0, 32), j ->
           CASE WHEN embedding[j + 33] > 0
                THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS code_w1
         FROM embeddings ORDER BY vec_id""",

    "q99_mix_sources" ->
      """WITH w AS (
           SELECT doc_id, source,
             CAST(CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.25
                              WHEN 'src2' THEN 0.0 ELSE 1.0 END AS DOUBLE) AS wt
           FROM documents
         ), e AS (
           SELECT doc_id, source, wt,
             unnest(range(0, CAST(ceil(wt) AS BIGINT))) AS epoch
           FROM w WHERE wt > 0
         )
         SELECT doc_id, CAST(epoch AS INTEGER) AS epoch, source
         FROM e
         WHERE epoch < floor(wt)
            OR (CAST(('0x' || substring(md5(doc_id || '_' || epoch), 1, 15))
                  AS BIGINT) % 1000000) < (wt - floor(wt)) * 1000000.0
         ORDER BY doc_id, epoch""",

    "q100_shuffle_key" ->
      """SELECT doc_id,
           CAST(('0x' || substring(md5('run1' || '_' || doc_id), 1, 15))
             AS BIGINT) AS shuffle_key
         FROM documents ORDER BY shuffle_key, doc_id""",

    "q101_dedup_incremental" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents
         ), sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(ts)-1),
               i -> ts[i] || chr(1) || ts[i+1] || chr(1) || ts[i+2])) AS shingles
           FROM toks WHERE len(ts) >= 3
         ), pairs AS (
           SELECT a.doc_id AS idNew, b.doc_id AS idRef,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
           FROM sh a JOIN sh b ON a.doc_id >= 250 AND b.doc_id < 250
         )
         SELECT idNew, idRef, round(j, 6) AS jaccard FROM pairs
         WHERE j >= 0.5 ORDER BY idNew, idRef""",

    // q321: the STREAMING near-dup gate shares q101's exact
    // cross-Jaccard oracle - the stream must reproduce the batch pair
    // set regardless of micro-batching (stateless stream-static join).
    "q321_stream_neardup" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents
         ), sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(ts)-1),
               i -> ts[i] || chr(1) || ts[i+1] || chr(1) || ts[i+2])) AS shingles
           FROM toks WHERE len(ts) >= 3
         ), pairs AS (
           SELECT a.doc_id AS idNew, b.doc_id AS idRef,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
           FROM sh a JOIN sh b ON a.doc_id >= 250 AND b.doc_id < 250
         )
         SELECT idNew, idRef, round(j, 6) AS jaccard FROM pairs
         WHERE j >= 0.5 ORDER BY idNew, idRef""",

    "q102_span_dedup" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(coalesce(text, ''), '[ \t\n\r\f]+'),
                         x -> x <> '') AS toks
           FROM documents
         ), g AS (
           SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks) - 7, 0))) AS pos
           FROM t
         ), grams AS (
           SELECT doc_id, pos,
             array_to_string(list_transform(list_slice(toks, pos + 1, pos + 8),
                                            x -> lower(x)), chr(1)) AS gram
           FROM g
         ), dups AS (
           SELECT gram, min(ROW(doc_id, pos)) AS keeper
           FROM grams GROUP BY gram HAVING count(*) > 1
         ), removals AS (
           SELECT gr.doc_id, gr.pos
           FROM grams gr JOIN dups d USING (gram)
           WHERE ROW(gr.doc_id, gr.pos) <> d.keeper
         ), drops AS (
           SELECT doc_id,
             list_sort(list_distinct(flatten(list(range(pos, pos + 8))))) AS dp
           FROM removals GROUP BY doc_id
         )
         SELECT t.doc_id,
           coalesce(array_to_string(
             list_filter(t.toks,
               (x, i) -> NOT coalesce(list_contains(d.dp, i - 1), false)),
             ' '), '') AS text_clean,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(len(d.dp), 0) AS BIGINT) AS n_dropped
         FROM t LEFT JOIN drops d USING (doc_id)
         ORDER BY doc_id""",

    "q103_pack" ->
      """WITH RECURSIVE t AS (
           SELECT lang, doc_id, greatest(coalesce(n_chars, 0), 0) AS tok,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
           FROM documents
         ), pack AS (
           SELECT lang, doc_id, tok, rn,
             CAST(0 AS BIGINT) AS bin, tok AS running
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.lang, t.doc_id, t.tok, t.rn,
             CASE WHEN p.running + t.tok > 5000 THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.running + t.tok > 5000 THEN t.tok ELSE p.running + t.tok END
           FROM pack p JOIN t ON t.lang = p.lang AND t.rn = p.rn + 1
         )
         SELECT lang, doc_id, CAST(tok AS BIGINT) AS n_tokens, bin AS bin_id
         FROM pack ORDER BY lang, doc_id""",

    "q104_chunk" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(coalesce(text, ''), '[ \t\n\r\f]+'),
                         x -> x <> '') AS toks
           FROM documents
         ), sized AS (
           SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) <= 40 THEN 1
                  ELSE ((len(toks) - 40 + 19) // 20) + 1 END AS nc
           FROM t WHERE len(toks) > 0
         ), chunks AS (
           SELECT doc_id, toks, unnest(range(0, nc)) AS cid FROM sized
         )
         SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
           CAST(len(list_slice(toks, cid * 20 + 1, cid * 20 + 40)) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(toks, cid * 20 + 1, cid * 20 + 40), ' ') AS text_chunk
         FROM chunks ORDER BY doc_id, chunk_id""",

    "q112_term_drift" ->
      """WITH ta AS (
           SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
             '[ \t\n\r\f]+'), t -> t <> '')) AS term
           FROM documents WHERE doc_id % 2 = 0
         ), tb AS (
           SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
             '[ \t\n\r\f]+'), t -> t <> '')) AS term
           FROM documents WHERE doc_id % 2 = 1
         ), ga AS (SELECT term, count(*) AS n_a FROM ta GROUP BY term),
         gb AS (SELECT term, count(*) AS n_b FROM tb GROUP BY term),
         j AS (
           SELECT coalesce(ga.term, gb.term) AS term,
             coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
           FROM ga FULL JOIN gb ON ga.term = gb.term
         ), s AS (
           SELECT sum(n_a) AS t_a, sum(n_b) AS t_b, count(*) AS v FROM j
         )
         SELECT term, n_a, n_b,
           round((
             ((n_a + 0.5) / (t_a + v / 2.0))
               * ln(((n_a + 0.5) / (t_a + v / 2.0))
                    / ((((n_a + 0.5) / (t_a + v / 2.0))
                        + ((n_b + 0.5) / (t_b + v / 2.0))) / 2.0))
             + ((n_b + 0.5) / (t_b + v / 2.0))
               * ln(((n_b + 0.5) / (t_b + v / 2.0))
                    / ((((n_a + 0.5) / (t_a + v / 2.0))
                        + ((n_b + 0.5) / (t_b + v / 2.0))) / 2.0))
           ) / 2.0, 9) AS js_contrib
         FROM j, s
         ORDER BY js_contrib DESC, term LIMIT 30""",

    // q113: the codebook is the portable md5-sign hyperplane set, so the
    // assignment (argmax projection, ties → smallest j) and the greedy
    // keep-lowest-id policy are both recomputed exactly here.
    "q113_semantic_dedup" ->
      """WITH signs AS (
           SELECT jj.j AS j, ii.i AS i,
             CASE WHEN (CAST(('0x' || substring(
                    md5(CAST(jj.j AS VARCHAR) || '_' || CAST(ii.i AS VARCHAR)),
                    1, 15)) AS BIGINT) & 1) = 1 THEN 1 ELSE -1 END AS s
           FROM (SELECT unnest(range(0, 8)) AS j) jj,
                (SELECT unnest(range(0, 64)) AS i) ii
         ), proj AS (
           SELECT e.vec_id, sg.j,
             sum(CAST(e.embedding[sg.i + 1] AS DOUBLE) * sg.s) AS p
           FROM embeddings e, signs sg
           GROUP BY e.vec_id, sg.j
         ), assign AS (
           SELECT vec_id, CAST(j AS INTEGER) AS cluster FROM (
             SELECT vec_id, j,
               row_number() OVER (PARTITION BY vec_id ORDER BY p DESC, j) AS rn
             FROM proj) WHERE rn = 1
         ), dropped AS (
           SELECT DISTINCT b.vec_id
           FROM assign a
           JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           JOIN embeddings ea ON ea.vec_id = a.vec_id
           JOIN embeddings eb ON eb.vec_id = b.vec_id
           WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])) >= 0.25
         )
         SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS kept
         FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
         ORDER BY a.vec_id""",

    // q114: full DSIR replay — same tokenization, same md5 bucket hash,
    // same dense add-α smoothing; weights match to 6 decimals.
    "q114_dsir" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents
         ), grams AS (
           SELECT doc_id, unnest(list_concat(ts,
             list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])))
             AS gram
           FROM toks
         ), buck AS (
           SELECT doc_id,
             CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT) % 4096 AS bucket
           FROM grams
         ), dense AS (SELECT unnest(range(0, 4096)) AS bucket),
         tc AS (
           SELECT d.bucket, coalesce(c.n, 0) AS n
           FROM dense d LEFT JOIN (
             SELECT bucket, count(*) AS n FROM buck WHERE doc_id % 10 = 0
             GROUP BY bucket) c ON c.bucket = d.bucket
         ), rc AS (
           SELECT d.bucket, coalesce(c.n, 0) AS n
           FROM dense d LEFT JOIN (
             SELECT bucket, count(*) AS n FROM buck WHERE doc_id % 10 <> 0
             GROUP BY bucket) c ON c.bucket = d.bucket
         ),
         lp AS (SELECT bucket, ln((n + 0.5) / ((SELECT sum(n) FROM tc) + 0.5 * 4096)) AS logp FROM tc),
         lq AS (SELECT bucket, ln((n + 0.5) / ((SELECT sum(n) FROM rc) + 0.5 * 4096)) AS logq FROM rc),
         scored AS (
           SELECT b.doc_id, count(*) AS n_grams, sum(lp.logp - lq.logq) AS w
           FROM buck b
           JOIN lp ON lp.bucket = b.bucket
           JOIN lq ON lq.bucket = b.bucket
           WHERE b.doc_id % 10 <> 0
           GROUP BY b.doc_id
         )
         SELECT d.doc_id, coalesce(s.n_grams, 0) AS n_grams,
           round(coalesce(s.w, 0.0), 6) AS log_weight
         FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
         LEFT JOIN scored s ON s.doc_id = d.doc_id
         ORDER BY d.doc_id""",

    // q120: q114's weight replay plus the pinned threshold filter
    // (gram-less docs carry the coalesced weight 0, so they pass).
    "q120_dsir_threshold" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents
         ), grams AS (
           SELECT doc_id, unnest(list_concat(ts,
             list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])))
             AS gram
           FROM toks
         ), buck AS (
           SELECT doc_id,
             CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT) % 4096 AS bucket
           FROM grams
         ), dense AS (SELECT unnest(range(0, 4096)) AS bucket),
         tc AS (
           SELECT d.bucket, coalesce(c.n, 0) AS n
           FROM dense d LEFT JOIN (
             SELECT bucket, count(*) AS n FROM buck WHERE doc_id % 10 = 0
             GROUP BY bucket) c ON c.bucket = d.bucket
         ), rc AS (
           SELECT d.bucket, coalesce(c.n, 0) AS n
           FROM dense d LEFT JOIN (
             SELECT bucket, count(*) AS n FROM buck WHERE doc_id % 10 <> 0
             GROUP BY bucket) c ON c.bucket = d.bucket
         ),
         lp AS (SELECT bucket, ln((n + 0.5) / ((SELECT sum(n) FROM tc) + 0.5 * 4096)) AS logp FROM tc),
         lq AS (SELECT bucket, ln((n + 0.5) / ((SELECT sum(n) FROM rc) + 0.5 * 4096)) AS logq FROM rc),
         scored AS (
           SELECT b.doc_id, count(*) AS n_grams, sum(lp.logp - lq.logq) AS w
           FROM buck b
           JOIN lp ON lp.bucket = b.bucket
           JOIN lq ON lq.bucket = b.bucket
           WHERE b.doc_id % 10 <> 0
           GROUP BY b.doc_id
         )
         SELECT d.doc_id, coalesce(s.n_grams, 0) AS n_grams,
           round(coalesce(s.w, 0.0), 6) AS log_weight
         FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
         LEFT JOIN scored s ON s.doc_id = d.doc_id
         WHERE coalesce(s.w, 0.0) >= -18.3
         ORDER BY d.doc_id""",

    // q121: the oracle recomputes the PLANTED media parameters by
    // arithmetic — the Spark side must recover them from true encoded
    // PNG/WAV bytes via real JDK codec decode.
    "q121_media_decode" ->
      """SELECT doc_id,
         CAST(8 + doc_id % 16 AS INTEGER) AS width,
         CAST(5 + doc_id % 7 AS INTEGER) AS height,
         CAST(3 AS INTEGER) AS channels,
         'png' AS format,
         CAST(doc_id % 256 AS DOUBLE) AS mean_intensity,
         CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
         CAST(50 + doc_id % 100 AS BIGINT) AS n_samples,
         round((50 + doc_id % 100) / CAST(8000 + (doc_id % 4) * 4000 AS DOUBLE), 6)
           AS duration_sec,
         round((100 + (doc_id % 300) * 100) / 32768.0, 6) AS rms_energy
         FROM documents ORDER BY doc_id""",

    // q122: the resize-arithmetic replay — same operation order as the
    // operator (least of ratios → multiply → round), constant fill makes
    // the mean resize-invariant.
    "q122_media_resize" ->
      """WITH p AS (
           SELECT doc_id,
             CAST(20 + doc_id % 80 AS DOUBLE) AS w,
             CAST(10 + doc_id % 60 AS DOUBLE) AS h
           FROM documents
         ), k AS (
           SELECT doc_id, w, h,
             least(1.0, least(32.0 / w, 32.0 / h)) AS scale
           FROM p
         )
         SELECT doc_id,
           CAST(round(w * scale) AS INTEGER) AS rwidth,
           CAST(round(h * scale) AS INTEGER) AS rheight,
           CAST(3 AS INTEGER) AS channels,
           'png' AS format,
           CAST(doc_id % 256 AS DOUBLE) AS mean_intensity
         FROM k ORDER BY doc_id""",

    // q127: the canonicalization regex chain replayed step-for-step
    // (DuckDB backrefs are \1, Spark's are $1 — same RE2-safe patterns).
    "q127_url_canonical" ->
      """WITH m AS (
           SELECT doc_id,
             'HTTP://Src' || CAST(doc_id % 7 AS VARCHAR) || '.Example.ORG:80/Path' ||
             CAST(doc_id % 5 AS VARCHAR) || '?utm_source=feed' || CAST(doc_id AS VARCHAR) ||
             '&id=' || CAST(doc_id % 50 AS VARCHAR) ||
             '&UTM_Medium=m' || CAST(doc_id % 3 AS VARCHAR) ||
             '&fbclid=x' || CAST(doc_id AS VARCHAR) ||
             '#sec' || CAST(doc_id AS VARCHAR) AS url
           FROM documents
         ), s1 AS (
           SELECT doc_id, url,
             lower(regexp_extract(url, '(?i)^(https?://[^/?#]+)', 1)) ||
               regexp_replace(url, '(?i)^(https?://[^/?#]+)', '', 'g') AS a
           FROM m
         ), s2 AS (SELECT doc_id, url, regexp_replace(a, '#.*', '', 'g') AS a FROM s1),
         s3 AS (SELECT doc_id, url, regexp_replace(a,
           '(?i)([?&])(?:utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|igshid|mc_cid|mc_eid)=[^&#]*',
           '\1', 'g') AS a FROM s2),
         s4 AS (SELECT doc_id, url, regexp_replace(a, '\?&+', '?', 'g') AS a FROM s3),
         s5 AS (SELECT doc_id, url, regexp_replace(a, '&&+', '&', 'g') AS a FROM s4),
         s6 AS (SELECT doc_id, url, regexp_replace(a, '[?&]+$', '', 'g') AS a FROM s5),
         s7 AS (SELECT doc_id, url,
           regexp_replace(a, '^(http://[^/?#:]+):80([/?]|$)', '\1\2', 'g') AS a FROM s6),
         s8 AS (SELECT doc_id, url,
           regexp_replace(a, '^(https://[^/?#:]+):443([/?]|$)', '\1\2', 'g') AS a FROM s7)
         SELECT doc_id, url,
           regexp_replace(a, '^(https?://[^/?#]+)/$', '\1', 'g') AS canonical_url
         FROM s8 ORDER BY doc_id""",

    // q126: full repetition-rule replay — same synthesized text, same
    // line/paragraph splits, same tagged gram orders, same thresholds.
    "q126_gopher_repetition" ->
      """WITH aug AS (
           SELECT doc_id,
             (substring(text, 1, 40) || chr(10) || substring(text, 41, 40) || chr(10) ||
              CASE WHEN doc_id % 3 = 0 THEN substring(text, 1, 40)
                   ELSE 'uniq ' || CAST(doc_id AS VARCHAR) END) AS p1
           FROM documents
         ), aug2 AS (
           SELECT doc_id,
             p1 || chr(10) || chr(10) ||
             (CASE WHEN doc_id % 7 = 0 THEN p1
                   ELSE 'second block ' || CAST(doc_id AS VARCHAR) END) ||
             repeat(' spam alpha beta gamma delta', CAST(doc_id % 5 AS INT)) AS t
           FROM aug
         ), m AS (
           SELECT doc_id, t,
             CAST(greatest(length(t), 1) AS DOUBLE) AS nc,
             string_split(t, chr(10)) AS lines,
             string_split(t, chr(10) || chr(10)) AS paras,
             list_filter(string_split_regex(lower(trim(t)), '[ \t\n\r\f]+'),
                         x -> x <> '') AS ts
           FROM aug2
         ), lp AS (
           SELECT doc_id, nc, ts,
             (len(lines) - len(list_distinct(lines)))
               / CAST(greatest(len(lines), 1) AS DOUBLE) AS dlf,
             (list_sum(list_transform(lines, l -> length(l))) -
              list_sum(list_transform(list_distinct(lines), l -> length(l)))) / nc AS dlcf,
             (len(paras) - len(list_distinct(paras)))
               / CAST(greatest(len(paras), 1) AS DOUBLE) AS dpf,
             (list_sum(list_transform(paras, l -> length(l))) -
              list_sum(list_transform(list_distinct(paras), l -> length(l)))) / nc AS dpcf
           FROM m
         ), g AS (
           SELECT doc_id, n,
             unnest(list_transform(range(1, greatest(len(ts) - n + 2, 1)),
               i -> array_to_string(ts[i:i+n-1], ' '))) AS gram
           FROM m CROSS JOIN (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) AS nn(n)
           WHERE len(ts) >= n
         ), gc AS (
           SELECT doc_id, n, gram, count(*) AS c, length(gram) AS glen
           FROM g GROUP BY doc_id, n, gram
         ), pn AS (
           SELECT doc_id, n,
             coalesce(max(CASE WHEN c >= 2 THEN c * glen END), 0) AS topc,
             coalesce(sum(CASE WHEN c >= 2 THEN c * glen END), 0) AS dupc
           FROM gc GROUP BY doc_id, n
         ), w AS (
           SELECT doc_id,
             max(CASE WHEN n = 2 THEN topc END) AS t2,
             max(CASE WHEN n = 3 THEN topc END) AS t3,
             max(CASE WHEN n = 4 THEN topc END) AS t4,
             max(CASE WHEN n = 5 THEN dupc END) AS d5,
             max(CASE WHEN n = 6 THEN dupc END) AS d6,
             max(CASE WHEN n = 7 THEN dupc END) AS d7,
             max(CASE WHEN n = 8 THEN dupc END) AS d8,
             max(CASE WHEN n = 9 THEN dupc END) AS d9,
             max(CASE WHEN n = 10 THEN dupc END) AS d10
           FROM pn GROUP BY doc_id
         )
         SELECT l.doc_id,
           round(dlf, 6) AS dup_line_frac,
           round(dlcf, 6) AS dup_line_char_frac,
           round(dpf, 6) AS dup_para_frac,
           round(dpcf, 6) AS dup_para_char_frac,
           round(coalesce(t2, 0) / nc, 6) AS top_2gram_frac,
           round(coalesce(t3, 0) / nc, 6) AS top_3gram_frac,
           round(coalesce(t4, 0) / nc, 6) AS top_4gram_frac,
           round(least(coalesce(d5, 0) / nc, 1.0), 6) AS dup_5gram_frac,
           round(least(coalesce(d6, 0) / nc, 1.0), 6) AS dup_6gram_frac,
           round(least(coalesce(d7, 0) / nc, 1.0), 6) AS dup_7gram_frac,
           round(least(coalesce(d8, 0) / nc, 1.0), 6) AS dup_8gram_frac,
           round(least(coalesce(d9, 0) / nc, 1.0), 6) AS dup_9gram_frac,
           round(least(coalesce(d10, 0) / nc, 1.0), 6) AS dup_10gram_frac,
           (dlf <= 0.30 AND dpf <= 0.30 AND dlcf <= 0.20 AND dpcf <= 0.20 AND
            coalesce(t2, 0) / nc <= 0.20 AND coalesce(t3, 0) / nc <= 0.18 AND
            coalesce(t4, 0) / nc <= 0.16 AND
            least(coalesce(d5, 0) / nc, 1.0) <= 0.15 AND
            least(coalesce(d6, 0) / nc, 1.0) <= 0.14 AND
            least(coalesce(d7, 0) / nc, 1.0) <= 0.13 AND
            least(coalesce(d8, 0) / nc, 1.0) <= 0.12 AND
            least(coalesce(d9, 0) / nc, 1.0) <= 0.11 AND
            least(coalesce(d10, 0) / nc, 1.0) <= 0.10) AS pass
         FROM lp l LEFT JOIN w USING (doc_id)
         ORDER BY l.doc_id""",

    // q124: planted-tone arithmetic — the Spark side must recover the
    // bin from a true FFT over true decoded WAV bytes.
    "q124_audio_spectrum" ->
      """SELECT doc_id,
         CAST(16000 AS INTEGER) AS sample_rate,
         CAST(1024 AS INTEGER) AS n_fft,
         CAST(3 + doc_id % 29 AS INTEGER) AS dominant_bin,
         round((3 + doc_id % 29) * 16000.0 / 1024, 6) AS dominant_freq_hz
         FROM documents ORDER BY doc_id""",

    // q125: per-frame planted parameters regenerated by a range unnest.
    "q125_video_frames" ->
      """WITH f AS (
           SELECT doc_id,
             unnest(range(0, 2 + doc_id % 3)) AS frame_idx
           FROM documents
         )
         SELECT doc_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(16 + frame_idx AS INTEGER) AS width,
           CAST(9 + frame_idx AS INTEGER) AS height,
           CAST((doc_id * 7 + frame_idx * 13) % 256 AS DOUBLE) AS mean_intensity
         FROM f ORDER BY doc_id, frame_idx""",

    // q123: exact replay of the hash-ordered quota selection.
    "q123_sample_quota_hash" ->
      """WITH t AS (
           SELECT lang, doc_id, n_chars,
             CAST(('0x' || substring(md5('r4§' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS hk
           FROM documents
         ), r AS (
           SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
           FROM t
         )
         SELECT lang, doc_id, n_chars FROM r WHERE rn <= 40
         ORDER BY lang, doc_id""",

    // q115: Gopher rules replayed rule-for-rule (same tokenization, same
    // line splitting, same thresholds).
    "q115_gopher" ->
      """WITH aug AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
               THEN text || ' the data and that report have merit with it to be seen'
               ELSE text END AS text
           FROM documents
         ), t AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                         x -> x <> '') AS ts,
             string_split(text, chr(10)) AS lines
           FROM aug
         ), m AS (
           SELECT doc_id,
             CAST(len(ts) AS BIGINT) AS n_words,
             list_sum(list_transform(ts, x -> CAST(len(x) AS BIGINT))) AS sum_len,
             CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
             CAST((len(text) - len(replace(text, '...', ''))) // 3
               + (len(text) - len(replace(text, '…', ''))) AS BIGINT) AS n_ell,
             CAST(len(lines) AS DOUBLE) AS n_lines,
             CAST(len(list_filter(lines, l ->
               starts_with(ltrim(l), '•') OR starts_with(ltrim(l), '- ')
                 OR starts_with(ltrim(l), '* '))) AS DOUBLE) AS n_bullet,
             CAST(len(list_filter(lines, l ->
               ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
               AS DOUBLE) AS n_ellend,
             CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-z]')))
               AS BIGINT) AS n_alpha,
             len(list_intersect(list_distinct(ts),
               ['the','be','to','of','and','that','have','with'])) AS n_stop
           FROM t
         ), f AS (
           SELECT doc_id, n_words,
             n_words BETWEEN 60 AND 100000 AS word_count_ok,
             n_words > 0 AND (CAST(sum_len AS DOUBLE) / n_words)
               BETWEEN 3.0 AND 10.0 AS mean_word_len_ok,
             n_words > 0 AND CAST(n_hash AS DOUBLE) / n_words <= 0.1
               AND CAST(n_ell AS DOUBLE) / n_words <= 0.1 AS symbol_ratio_ok,
             n_bullet / n_lines <= 0.9 AS bullet_ok,
             n_ellend / n_lines <= 0.3 AS ellipsis_ok,
             n_words > 0 AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
               AS alpha_ok,
             n_stop >= 2 AS stopword_ok
           FROM m
         )
         SELECT doc_id, n_words, word_count_ok, mean_word_len_ok,
           symbol_ratio_ok, bullet_ok, ellipsis_ok, alpha_ok, stopword_ok,
           (word_count_ok AND mean_word_len_ok AND symbol_ratio_ok AND
            bullet_ok AND ellipsis_ok AND alpha_ok AND stopword_ok) AS pass
         FROM f ORDER BY doc_id""",

    // q116: full LM replay (q96's unigram CTEs) + the same pinned-cutoff
    // CASE — bucket membership is compared on the un-rounded perplexity.
    "q116_ccnet_buckets" ->
      """WITH toks AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '')) AS tok
           FROM documents
         ), uni AS (
           SELECT tok, count(*) AS c1 FROM toks GROUP BY tok
         ), stats AS (
           SELECT CAST(sum(c1) AS BIGINT) AS N, count(*) AS V FROM uni
         ), uscore AS (
           SELECT t.doc_id,
             exp(-avg(ln((u.c1 + 1.0) / (s.N + 1.0 * s.V)))) AS ppl
           FROM toks t JOIN uni u USING (tok), stats s
           GROUP BY t.doc_id
         )
         SELECT doc_id, round(ppl, 4) AS ppl_uni,
           CASE WHEN ppl <= 30.0 THEN 'head'
                WHEN ppl <= 30.5 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM uscore ORDER BY doc_id""",

    // q119: the same unigram perplexity, bucketed by PER-LANGUAGE pinned
    // cutoffs (a VALUES join standing in for the broadcast cutoffs frame).
    "q119_ccnet_perlang" ->
      """WITH toks AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '')) AS tok
           FROM documents
         ), uni AS (
           SELECT tok, count(*) AS c1 FROM toks GROUP BY tok
         ), stats AS (
           SELECT CAST(sum(c1) AS BIGINT) AS N, count(*) AS V FROM uni
         ), uscore AS (
           SELECT t.doc_id,
             exp(-avg(ln((u.c1 + 1.0) / (s.N + 1.0 * s.V)))) AS ppl
           FROM toks t JOIN uni u USING (tok), stats s
           GROUP BY t.doc_id
         ), cuts AS (
           SELECT * FROM (VALUES
             ('de', 29.91, 30.12), ('en', 29.93, 30.13),
             ('es', 29.95, 30.13), ('fr', 29.92, 30.10),
             ('zh', 29.90, 30.14)) AS v(lang, c1, c2)
         )
         SELECT d.doc_id, d.lang, round(u.ppl, 4) AS ppl_uni,
           CASE WHEN u.ppl <= k.c1 THEN 'head'
                WHEN u.ppl <= k.c2 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM documents d
         JOIN uscore u USING (doc_id)
         JOIN cuts k USING (lang)
         ORDER BY d.doc_id""",

    // q117: same synthesized lines, same rule-for-rule replay; empty
    // surviving-line lists rebuild via coalesce (DuckDB array_to_string
    // yields NULL on an empty list).
    "q117_c4_clean" ->
      """WITH lined AS (
           SELECT doc_id,
             substring(text, 1, 60) || ' end.' || chr(10) ||
             CASE WHEN doc_id % 2 = 0
               THEN substring(text, 61, 60) || ' more tail.'
               ELSE substring(text, 61, 60) END || chr(10) ||
             'short line' || chr(10) ||
             'please enable javascript to view this page.' ||
             CASE WHEN doc_id % 7 = 0
                 THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.'
               WHEN doc_id % 11 = 0
                 THEN chr(10) || 'config { skip this } done.'
               ELSE '' END AS text
           FROM documents
         ), k AS (
           SELECT doc_id, text,
             list_filter(string_split(text, chr(10)), l ->
               (ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!') OR
                ends_with(rtrim(l), '?') OR ends_with(rtrim(l), '"'))
               AND len(list_filter(string_split_regex(trim(l), '[ \t\r\f]+'),
                       w -> w <> '')) >= 5
               AND NOT contains(lower(l), 'javascript')) AS kl
           FROM lined
         )
         SELECT doc_id,
           coalesce(array_to_string(kl, chr(10)), '') AS clean_text,
           CAST(len(kl) AS BIGINT) AS n_lines_kept,
           (len(kl) >= 2 AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{')) AS kept
         FROM k ORDER BY doc_id""",

    // q118: full BM25 replay — same tokenization, same Lucene idf, same
    // Okapi saturation; scores match to 6 decimals, rank ties by doc id.
    // q324: the planted URL variants + the CLOSED-FORM canonical (same
    // arithmetic, no regex replay) + min-id keeper per canonical.
    // Closed form per canonicalizeUrl's contract: authority lowered,
    // :443 dropped, tracker query dropped entirely, fragment dropped,
    // and the trailing slash strips only for a BARE root (a root slash
    // followed by a kept query survives).
    "q324_url_dedup" ->
      """WITH u AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://'
                   ELSE 'https://' END)
             || (CASE WHEN doc_id % 4 < 2 THEN 'EX' ELSE 'ex' END)
             || CAST(doc_id % 40 AS VARCHAR)
             || (CASE WHEN doc_id % 4 < 2 THEN '.COM' ELSE '.com' END)
             || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
             || (CASE WHEN doc_id % 4 = 0 THEN '/'
                   ELSE '/p/' || CAST(doc_id % 6 AS VARCHAR) END)
             || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x'
                      WHEN doc_id % 5 = 1 THEN '?id=7' ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END) AS url,
             'https://ex' || CAST(doc_id % 40 AS VARCHAR) || '.com'
             || (CASE WHEN doc_id % 4 = 0 THEN
                   CASE WHEN doc_id % 5 = 1 THEN '/?id=7' ELSE '' END
                 ELSE '/p/' || CAST(doc_id % 6 AS VARCHAR)
                   || CASE WHEN doc_id % 5 = 1 THEN '?id=7' ELSE '' END
                 END) AS canon
           FROM documents
         )
         SELECT doc_id, url, canon AS canonical_url FROM (
           SELECT doc_id, url, canon,
             row_number() OVER (PARTITION BY canon ORDER BY doc_id) AS rn
           FROM u) WHERE rn = 1
         ORDER BY doc_id""",

    // q323: the PII contract replayed literally — planting, per-class
    // counts on progressively redacted text (contract order: email,
    // ipv4, ssn, ccard, phone), and the final redaction chain.
    "q323_pii" ->
      """WITH planted AS MATERIALIZED (
           SELECT doc_id, text
             || CASE WHEN doc_id % 5 = 0 THEN ' contact user'
                  || CAST(doc_id AS VARCHAR) || '@example.com'
                ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN ' call 555-'
                  || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-4567'
                ELSE '' END
             || CASE WHEN doc_id % 11 = 0 THEN ' node 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.25 ssn 123-45-6789'
                ELSE '' END
             || CASE WHEN doc_id % 13 = 0 THEN ' card 4111 1111 1111 1111'
                ELSE '' END AS text
           FROM documents
         ), s1 AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               AS BIGINT) AS n_email,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '[EMAIL]', 'g') AS t
           FROM planted
         ), s2 AS (
           SELECT doc_id, n_email,
             CAST(len(regexp_extract_all(t,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
               AS n_ipv4,
             regexp_replace(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
               '[IP]', 'g') AS t
           FROM s1
         ), s3 AS (
           SELECT doc_id, n_email, n_ipv4,
             CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b'))
               AS BIGINT) AS n_ssn,
             regexp_replace(t, '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g') AS t
           FROM s2
         ), s4 AS (
           SELECT doc_id, n_email, n_ipv4, n_ssn,
             CAST(len(regexp_extract_all(t,
               '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b')) AS BIGINT)
               AS n_ccard,
             regexp_replace(t, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b',
               '[CARD]', 'g') AS t
           FROM s3
         ), s5 AS (
           SELECT doc_id, n_email, n_ipv4, n_ssn, n_ccard,
             CAST(len(regexp_extract_all(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
               AS BIGINT) AS n_phone,
             regexp_replace(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b',
               '[PHONE]', 'g') AS t
           FROM s4
         )
         SELECT doc_id, n_email, n_ipv4, n_ssn, n_ccard, n_phone,
           n_email + n_ipv4 + n_ssn + n_ccard + n_phone AS n_pii,
           (n_email + n_ipv4 + n_ssn + n_ccard + n_phone) > 0 AS has_pii,
           t AS redacted
         FROM s5 ORDER BY doc_id""",

    // q322: BM25-ranked leakage triage replayed end-to-end — the q110
    // planted corpus, the exact distinct-8-gram candidate join, the
    // q118 BM25 formula with k1=1.2 / b=0.75 literals, (score DESC,
    // docId) rank, round-6 score.
    "q322_leakage_triage" ->
      """WITH leak AS (
           SELECT doc_id AS lk, substring(text, 1, 120) AS ltext
           FROM documents WHERE doc_id < 20
         ), corpus AS MATERIALIZED (
           SELECT d.doc_id,
             CASE WHEN d.doc_id % 7 = 0
               THEN d.text || ' ' || COALESCE(l.ltext, '')
               ELSE d.text END AS text
           FROM documents d LEFT JOIN leak l ON l.lk = d.doc_id % 20
           WHERE d.doc_id >= 20
         ), ct AS MATERIALIZED (
           SELECT doc_id, list_filter(
             string_split_regex(lower(text), '[ \t\n\r\f]+'),
             t -> t <> '') AS ts
           FROM corpus
         ), bt AS MATERIALIZED (
           SELECT doc_id, list_filter(
             string_split_regex(lower(text), '[ \t\n\r\f]+'),
             t -> t <> '') AS ts
           FROM documents WHERE doc_id < 10
         ), cg AS (
           SELECT doc_id AS docId, unnest(list_distinct(list_transform(
             range(0, greatest(len(ts) - 7, 0)),
             i -> array_to_string(list_slice(ts, i + 1, i + 8), chr(1)))))
             AS g
           FROM ct
         ), bg AS (
           SELECT doc_id AS queryId, unnest(list_distinct(list_transform(
             range(0, greatest(len(ts) - 7, 0)),
             i -> array_to_string(list_slice(ts, i + 1, i + 8), chr(1)))))
             AS g
           FROM bt
         ), cand AS MATERIALIZED (
           SELECT queryId, docId, CAST(count(*) AS BIGINT) AS n_hit_grams
           FROM cg JOIN bg USING (g) GROUP BY queryId, docId
         ), toks AS MATERIALIZED (
           SELECT doc_id AS docId, unnest(ts) AS term FROM ct
         ), tf AS MATERIALIZED (
           SELECT docId, term, CAST(count(*) AS DOUBLE) AS tf
           FROM toks GROUP BY docId, term
         ), dl AS MATERIALIZED (
           SELECT docId, CAST(count(*) AS DOUBLE) AS dl
           FROM toks GROUP BY docId
         ), dfreq AS MATERIALIZED (
           SELECT term, CAST(count(*) AS DOUBLE) AS dfn
           FROM tf GROUP BY term
         ), q AS (
           SELECT doc_id AS queryId, unnest(list_distinct(ts)) AS term
           FROM bt
         ), scored AS MATERIALIZED (
           SELECT q.queryId, t.docId,
             sum(ln(1.0 + ((SELECT count(*) FROM corpus) - d.dfn + 0.5)
                          / (d.dfn + 0.5))
                 * (t.tf * (1.2 + 1))
                 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl
                                  / (SELECT avg(dl) FROM dl)))) AS score
           FROM q
           JOIN tf t USING (term)
           JOIN dfreq d ON d.term = t.term
           JOIN dl l ON l.docId = t.docId
           GROUP BY q.queryId, t.docId
         ), ranked AS (
           SELECT c.queryId, c.docId, c.n_hit_grams, s.score,
             row_number() OVER (PARTITION BY c.queryId
               ORDER BY s.score DESC, c.docId) AS rank
           FROM cand c
           JOIN scored s ON s.queryId = c.queryId AND s.docId = c.docId
         )
         SELECT queryId, docId, n_hit_grams, round(score, 6) AS score,
           CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5 ORDER BY queryId, rank""",

    "q118_bm25" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(
             string_split_regex(lower(text), '[ \t\n\r\f]+'), t -> t <> '')) AS term
           FROM documents
         ), tf AS (
           SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM toks GROUP BY doc_id, term
         ), dl AS (
           SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
           FROM toks GROUP BY doc_id
         ), dfreq AS (
           SELECT term, CAST(count(*) AS DOUBLE) AS dfn FROM tf GROUP BY term
         ), q AS (
           SELECT doc_id AS query_id, unnest(list_distinct(list_filter(
             string_split_regex(lower(substring(text, 1, 80)), '[ \t\n\r\f]+'),
             t -> t <> ''))) AS term
           FROM documents WHERE doc_id < 5
         ), scored AS (
           SELECT q.query_id, t.doc_id,
             sum(ln(1.0 + ((SELECT count(*) FROM documents) - d.dfn + 0.5)
                          / (d.dfn + 0.5))
                 * (t.tf * (1.2 + 1))
                 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl
                                  / (SELECT avg(dl) FROM dl)))) AS score
           FROM q
           JOIN tf t USING (term)
           JOIN dfreq d ON d.term = t.term
           JOIN dl l ON l.doc_id = t.doc_id
           GROUP BY q.query_id, t.doc_id
         ), ranked AS (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
           FROM scored
         )
         SELECT query_id, doc_id, round(score, 6) AS score,
           CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    "q110_contamination_report" ->
      """WITH corpaug AS (
           SELECT c.doc_id,
             CASE WHEN c.doc_id % 7 = 0
                  THEN c.text || ' ' || substr(b.text, 1, 120)
                  ELSE c.text END AS text
           FROM documents c JOIN documents b ON b.doc_id = c.doc_id % 20
           WHERE c.doc_id >= 20
         ), tokc AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM corpaug
         ), shc AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(ts) - 6),
               i -> array_to_string(ts[i:i+7], chr(1)))) AS shingles
           FROM tokc WHERE len(ts) >= 8
         ), tokb AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents WHERE doc_id < 20
         ), shb AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(ts) - 6),
               i -> array_to_string(ts[i:i+7], chr(1)))) AS shingles
           FROM tokb WHERE len(ts) >= 8
         ), corp AS (
           SELECT doc_id, unnest(shingles) AS g FROM shc
         ), ba AS (
           SELECT DISTINCT unnest(shingles) AS g FROM shb WHERE doc_id < 10
         ), bb AS (
           SELECT DISTINCT unnest(shingles) AS g FROM shb WHERE doc_id >= 10
         )
         SELECT doc_id, benchmark, n_overlaps FROM (
           SELECT doc_id, 'benchA' AS benchmark, count(*) AS n_overlaps
           FROM corp JOIN ba USING (g) GROUP BY doc_id
           UNION ALL
           SELECT doc_id, 'benchB' AS benchmark, count(*) AS n_overlaps
           FROM corp JOIN bb USING (g) GROUP BY doc_id
         ) ORDER BY doc_id, benchmark""",

    "q111_topk_per_group" ->
      """SELECT doc_id, lang, n_chars, CAST(rank AS INTEGER) AS rank FROM (
           SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang
               ORDER BY n_chars DESC, doc_id) AS rank
           FROM documents)
         WHERE rank <= 5 ORDER BY lang, rank""",

    "q107_tpch14" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
               THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
           / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
         count(*) AS n_rows
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= '1997-09-01' AND l_shipdate < '1997-10-01'""",

    "q108_tpch18" ->
      """WITH big AS (
           SELECT l_orderkey, round(sum(l_quantity), 4) AS sum_qty
           FROM lineitem GROUP BY l_orderkey
           HAVING round(sum(l_quantity), 4) > 300
         )
         SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
         FROM big JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",

    "q109_tpch7" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
           (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)
           AS DOUBLE) AS revenue,
         count(*) AS n_rows
         FROM lineitem
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN nation cn ON cn.n_nationkey = c_nationkey
         JOIN nation sn ON sn.n_nationkey = s_nationkey
         WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    "q106_decontaminate" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(coalesce(text, ''), '[ \t\n\r\f]+'),
                         x -> x <> '') AS toks
           FROM documents WHERE doc_id >= 20
         ), bt AS (
           SELECT doc_id,
             list_filter(string_split_regex(coalesce(text, ''), '[ \t\n\r\f]+'),
                         x -> x <> '') AS toks
           FROM documents WHERE doc_id < 20
         ), bg AS (
           SELECT DISTINCT array_to_string(
             list_transform(list_slice(toks, pos + 1, pos + 8), x -> lower(x)),
             chr(1)) AS gram
           FROM (SELECT toks, unnest(range(0, greatest(len(toks) - 7, 0))) AS pos
                 FROM bt)
         ), g AS (
           SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks) - 7, 0))) AS pos
           FROM t
         ), hits AS (
           SELECT gr.doc_id, gr.pos
           FROM (SELECT doc_id, pos,
                   array_to_string(
                     list_transform(list_slice(toks, pos + 1, pos + 8), x -> lower(x)),
                     chr(1)) AS gram
                 FROM g) gr
           JOIN bg USING (gram)
         ), drops AS (
           SELECT doc_id,
             list_sort(list_distinct(flatten(list(range(pos, pos + 8))))) AS dp
           FROM hits GROUP BY doc_id
         )
         SELECT t.doc_id,
           coalesce(array_to_string(
             list_filter(t.toks,
               (x, i) -> NOT coalesce(list_contains(d.dp, i - 1), false)),
             ' '), '') AS text_clean,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(len(d.dp), 0) AS BIGINT) AS n_dropped
         FROM t LEFT JOIN drops d USING (doc_id)
         ORDER BY doc_id""",

    "q105_source_overlap" ->
      """WITH toks AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(coalesce(text, '')), '[ \t\n\r\f]+'),
                         t -> t <> '') AS ts
           FROM documents
         ), sh AS (
           SELECT DISTINCT source,
             unnest(list_transform(range(1, len(ts) - 1),
               i -> ts[i] || chr(1) || ts[i+1] || chr(1) || ts[i+2])) AS g
           FROM toks WHERE len(ts) >= 3
         ), per AS (
           SELECT source, count(*) AS n FROM sh GROUP BY source
         ), co AS (
           SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
           FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
           GROUP BY 1, 2
         )
         SELECT source_a, source_b, pa.n AS n_a, pb.n AS n_b, n_common,
           round(CAST(n_common AS DOUBLE) / (pa.n + pb.n - n_common), 6) AS jaccard
         FROM co JOIN per pa ON pa.source = source_a
                 JOIN per pb ON pb.source = source_b
         ORDER BY source_a, source_b"""
  )
}
