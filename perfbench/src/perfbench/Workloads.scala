package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.evaluation.{AssemblyFeature, CrossValidation, MAE, RMSE, SupervisedModelDesign, SupervisedSpecimen}
import graft.model.{Features, Preset}
import graft.operators.{Dedup, Graph, Quality}
import graft.physical.{DefaultPartition, Filter, Group, Join, Optimise, Order, Read, Transform, Wnd, Write}
import graft.physical.Join.{On, With}

/** One workload: inputs made from a seed, and a fixed, ordered list of
  * operations that forms one round. Each operation calls the library's
  * public API, materialises its result, and returns a check that the
  * runner evaluates after the round's timing has stopped. */
abstract class Workload(val seed: Long, val tiny: Boolean, val t: Tracer)(
    implicit val spark: SparkSession) {
  type Check = Workload.Check

  protected var dir = ""

  /** Generates the inputs under `dir`; part of set-up. */
  def prepare(dir: String): Unit

  def ops: Seq[(String, () => Check)]

  private var pins = List.empty[DataFrame]

  /** Materialises `df` now; the round releases it after its checks. */
  protected def pin(df: DataFrame): DataFrame = {
    val p = df.localCheckpoint(true)
    pins ::= p
    p
  }

  def endRound(): Unit = { pins.foreach(Optimise.releaseCheckpoint); pins = Nil }

  /** Per-round figures recorded by the checks, such as files written. */
  val stats = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  protected def stat(name: String, v: Double): Unit =
    stats.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** Figures computed once after the measured rounds of a traced run. */
  def finish(): Map[String, Double] = Map.empty

  protected def read(name: String): DataFrame =
    t("physical.read")(Read.parquet(s"$dir/$name.parquet").get)

  protected def ok(cond: Boolean, what: => String): Option[String] =
    if (cond) None else Some(what)

  /** Result digests are fixed for [[Workloads.DefaultSeed]]; for any seed
    * every round must repeat the first round's digest. */
  protected def sameAsFirst(op: String, digest: String): Option[String] = {
    val expected = Workloads.expected.get(s"${getClass.getSimpleName}/$op")
      .filter(_ => seed == Workloads.DefaultSeed && !tiny)
      .getOrElse(Workloads.firstDigest.getOrElseUpdate(op, digest))
    ok(digest == expected, s"digest $digest, expected $expected")
  }
}

object Workload {
  /** `None` when the output is correct, else what is wrong with it. */
  type Check = () => Option[String]
}

object Workloads {
  val DefaultSeed = 1L
  val Names = Seq("analytics", "curation", "graph", "training")

  /** Results of the default seed at full size: analytics digests, and
    * training scores (compared within 1e-6). */
  val expected: Map[String, String] = Map(
    "Analytics/q1_pricing_summary" -> "b4f53d73/3",
    "Analytics/q3_shipping_priority" -> "87fc8d1d/10",
    "Analytics/q5_local_supplier" -> "d9e7f6b3/5",
    "Analytics/q10_returned_items" -> "f204dde2/20",
    "Analytics/broadcast_brand" -> "d9e3773a/30",
    "Analytics/running_total" -> "2b103a24/5",
    "Training/rmse" -> "3333.646745865524",
    "Training/mae" -> "2500.6141268158653",
    "Training/crossval_rmse" -> "3348.8420538688065")

  /** First digest seen per op in this process. */
  val firstDigest = mutable.Map[String, String]()

  def digest(rows: Array[Row]): String =
    f"${MurmurHash3.orderedHash(rows.toSeq.map(_.toString))}%08x/${rows.length}"

  def apply(name: String, seed: Long, tiny: Boolean, t: Tracer)(
      implicit spark: SparkSession): Workload = name match {
    case "analytics" => new Analytics(seed, tiny, t)
    case "curation"  => new Curation(seed, tiny, t)
    case "graph"     => new GraphWorkload(seed, tiny, t)
    case "training"  => new Training(seed, tiny, t)
    case other       => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** TPC-H-shaped queries through the `physical` layer: each op reads its
  * tables, composes Filter/Join/Group/Order/Wnd in `MayFail`, and
  * collects a small result. */
final class Analytics(seed: Long, tiny: Boolean, t: Tracer)(implicit spark: SparkSession)
    extends Workload(seed, tiny, t) {
  private val orders = if (tiny) 2000 else 20000

  // substitution values drawn from the seed, as TPC-H's qgen does
  private val r = Rng(seed, 10)
  private def day(y: Int, m: Int, d: Int): Long = LocalDate.of(y, m, d).toEpochDay
  private val q1Cut = day(1998, 12, 1) - (60 + r.nextInt(61))
  private val q3Segment = Tpch.Segments(r.nextInt(Tpch.Segments.size))
  private val q3Day = day(1995, 3, 1) + r.nextInt(31)
  private val q5Region = Tpch.Regions(r.nextInt(Tpch.Regions.size))
  private val q5Year = day(1993 + r.nextInt(5), 1, 1)
  private val q10Month = LocalDate.of(1993, 2, 1).plusMonths(r.nextInt(24).toLong)
  private val brand = Tpch.Brands(r.nextInt(Tpch.Brands.size))

  private def ts(d: Long): Column = lit(Tpch.ts(d))
  private val revenue = col("l_extendedprice") * (lit(100) - col("l_discount"))

  def prepare(dir: String): Unit = { this.dir = dir; Tpch.write(spark, seed, orders, dir) }

  private def query(op: String)(plan: => graft.functional.MayFail[DataFrame]): Check = {
    val rows = t("physical.relational")(plan.get.collect())
    val d = Workloads.digest(rows)
    () => ok(rows.nonEmpty, "empty result").orElse(sameAsFirst(op, d))
  }

  def ops: Seq[(String, () => Check)] = Seq(
    "q1_pricing_summary" -> (() => {
      val li = read("lineitem")
      query("q1_pricing_summary")(for {
        f <- Filter.where(li, col("l_shipdate") <= ts(q1Cut))
        g <- Group.agg(f, Seq("l_returnflag", "l_linestatus"), Group.Agg(Seq(
          sum("l_quantity").as("sum_qty"), sum("l_extendedprice").as("sum_base"),
          sum(revenue).as("sum_disc"), sum(revenue * (lit(100) + col("l_tax"))).as("sum_charge"),
          avg("l_quantity").as("avg_qty"), avg("l_extendedprice").as("avg_price"),
          avg("l_discount").as("avg_disc"), count(lit(1)).as("n"))))
        o <- Order.by(g, Seq("l_returnflag", "l_linestatus"))
      } yield o)
    }),
    "q3_shipping_priority" -> (() => {
      val (c, o, li) = (read("customer"), read("orders"), read("lineitem"))
      query("q3_shipping_priority")(for {
        cf <- Filter.where(c, col("c_mktsegment") === q3Segment)
        of <- Filter.where(o, col("o_orderdate") < ts(q3Day))
        lf <- Filter.where(li, col("l_shipdate") > ts(q3Day))
        co <- Join.inner(cf, of, With(col("c_custkey") === col("o_custkey")))
        col3 <- Join.inner(co, lf, With(col("o_orderkey") === col("l_orderkey")))
        g <- Group.agg(col3, Seq("l_orderkey", "o_orderdate", "o_orderpriority"),
          Group.Agg(Seq(sum(revenue).as("revenue"))))
        top <- Order.topK(g, Seq(col("revenue").desc, col("o_orderdate"), col("l_orderkey")), 10)
      } yield top)
    }),
    "q5_local_supplier" -> (() => {
      val (c, o, li, s, n, rg) = (read("customer"), read("orders"), read("lineitem"),
        read("supplier"), read("nation"), read("region"))
      query("q5_local_supplier")(for {
        rf <- Filter.where(rg, col("r_name") === q5Region)
        nr <- Join.inner(n, rf, With(col("n_regionkey") === col("r_regionkey")))
        sn <- Join.inner(s, nr, With(col("s_nationkey") === col("n_nationkey")))
        of <- Filter.where(o, col("o_orderdate") >= ts(q5Year) &&
          col("o_orderdate") < ts(q5Year + 365))
        co <- Join.inner(c, of, With(col("c_custkey") === col("o_custkey")))
        col3 <- Join.inner(co, li, With(col("o_orderkey") === col("l_orderkey")))
        all <- Join.inner(col3, sn, With(col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey")))
        g <- Group.agg(all, Seq("n_name"), Group.Agg(Seq(sum(revenue).as("revenue"))))
        top <- Order.topK(g, Seq(col("revenue").desc, col("n_name")), 25)
      } yield top)
    }),
    "q10_returned_items" -> (() => {
      val (c, o, li, n) = (read("customer"), read("orders"), read("lineitem"), read("nation"))
      val from = q10Month.toEpochDay
      val to = q10Month.plusMonths(3).toEpochDay
      query("q10_returned_items")(for {
        of <- Filter.where(o, col("o_orderdate") >= ts(from) && col("o_orderdate") < ts(to))
        lf <- Filter.where(li, col("l_returnflag") === "R")
        co <- Join.inner(c, of, With(col("c_custkey") === col("o_custkey")))
        col3 <- Join.inner(co, lf, With(col("o_orderkey") === col("l_orderkey")))
        cn <- Join.inner(col3, n, With(col("c_nationkey") === col("n_nationkey")))
        g <- Group.agg(cn, Seq("c_custkey", "c_name", "c_acctbal", "n_name"),
          Group.Agg(Seq(sum(revenue).as("revenue"))))
        top <- Order.topK(g, Seq(col("revenue").desc, col("c_custkey")), 20)
      } yield top)
    }),
    "broadcast_brand" -> (() => {
      val (li, p) = (read("lineitem"), read("part"))
      query("broadcast_brand")(for {
        pf <- Filter.where(p, col("p_brand") === brand)
        pk <- Transform.rename(pf, Map("p_partkey" -> "l_partkey"))
        j <- Join.broadcast(li, pk, Seq("l_partkey"), Seq("p_type"))
        g <- Group.agg(j, Seq("p_type"), Group.Agg(Seq(sum("l_quantity").as("qty"),
          sum("l_extendedprice").as("base"), count(lit(1)).as("n"))))
        o <- Order.by(g, Seq("p_type"))
      } yield o)
    }),
    "running_total" -> (() => {
      val o = read("orders")
      query("running_total")(for {
        w <- Wnd.running(o, sum("o_totalprice"), Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"),
          "running")
        g <- Group.agg(w, Seq("o_orderpriority"), Group.Agg(Seq(max("running").as("max_running"),
          sum("running").as("sum_running"), count(lit(1)).as("n"))))
        s <- Order.by(g, Seq("o_orderpriority"))
      } yield s)
    }))
}

/** The curation pipeline over a generated corpus: quality filter, exact
  * and near-duplicate removal, decontamination against a held-out set,
  * and a parquet write of the kept shard. */
final class Curation(seed: Long, tiny: Boolean, t: Tracer)(implicit spark: SparkSession)
    extends Workload(seed, tiny, t) {
  /** Share of planted near-duplicates the MinHash pass must find. */
  val RecallFloor = 0.95
  private val base = if (tiny) 300 else 2000
  private var corpus: Corpus = _
  private var passed, exact, near, kept: DataFrame = _

  def prepare(dir: String): Unit = {
    import spark.implicits._
    this.dir = dir
    corpus = Corpus.generate(seed, base)
    corpus.docs.toDS().repartition(Tpch.Parts).write.mode("overwrite").parquet(s"$dir/docs.parquet")
    corpus.heldOut.toDS().repartition(1).write.mode("overwrite").parquet(s"$dir/heldout.parquet")
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  def ops: Seq[(String, () => Check)] = Seq(
    "quality" -> (() => {
      val docs = read("docs")
      val flags = t("operators.quality")(pin(Quality.gopherFlags(docs, "text", "doc_id").get))
      val out = t("physical.relational")(pin(
        Join.semi(docs, flags.filter(col("pass")).select("doc_id"), On(Seq("doc_id"))).get))
      passed = out
      () => {
        val dropped = ids(docs) -- ids(out)
        ok(dropped == corpus.lowQuality,
          s"quality dropped ${dropped.size}, planted ${corpus.lowQuality.size}")
      }
    }),
    "dedup_exact" -> (() => {
      val in = passed
      val out = t("operators.dedup_exact")(pin(Dedup.exact(in, Seq("text"), "doc_id").get))
      exact = out
      () => {
        val dropped = ids(in) -- ids(out)
        ok(dropped == corpus.exactCopies,
          s"exact dedup dropped ${dropped.size}, planted ${corpus.exactCopies.size}")
      }
    }),
    "dedup_minhash" -> (() => {
      val in = exact
      val out = t("operators.dedup_minhash")(pin(Dedup.minhashDedup(in, "text", "doc_id").get))
      near = out
      () => {
        val dropped = ids(in) -- ids(out)
        val recall = (dropped & corpus.nearDups).size.toDouble / corpus.nearDups.size
        stat("operators.dedup.recall", recall)
        ok(recall >= RecallFloor && dropped.subsetOf(corpus.nearDups),
          s"near-dup recall $recall (floor $RecallFloor), " +
            s"${(dropped -- corpus.nearDups).size} unplanted docs dropped")
      }
    }),
    "contamination" -> (() => {
      val held = read("heldout")
      val in = near
      val flagged = t("operators.contamination")(pin(
        Dedup.contaminationFlags(in, held, "text", "doc_id").get))
      kept = t("physical.relational")(pin(
        Join.anti(in, flagged.select("doc_id"), On(Seq("doc_id"))).get))
      () => {
        val f = ids(flagged)
        ok(f == corpus.contaminated, s"flagged ${f.size}, planted ${corpus.contaminated.size}")
      }
    }),
    "write" -> (() => {
      val in = kept
      val out = new File(new File(dir).getParentFile, "shard").getPath
      t("physical.write")(Write.parquet(in, out, DefaultPartition, overwrite = true).get)
      () => {
        val files = Option(new File(out).listFiles()).getOrElse(Array.empty[File])
          .filter(_.getName.endsWith(".parquet"))
        stat("physical.write_files", files.length.toDouble)
        stat("physical.write_mb", files.map(_.length).sum / 1e6)
        val back = spark.read.parquet(out).count()
        val want = in.count()
        ok(back == want && files.nonEmpty, s"wrote $back rows, kept $want")
      }
    }))

  /** Planted pairs among the pairs the MinHash pass emits. */
  override def finish(): Map[String, Double] = {
    val docs = read("docs")
    val ex = Dedup.exact(docs, Seq("text"), "doc_id").get
    val pairs = Dedup.minhashPairs(ex, "text", "doc_id").get.select("idA", "idB").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Map("operators.dedup.pair_precision" ->
      (if (pairs.isEmpty) 0.0 else (pairs & corpus.nearPairs).size.toDouble / pairs.size))
  }
}

/** Iterative graph operators over a generated graph of known components. */
final class GraphWorkload(seed: Long, tiny: Boolean, t: Tracer)(implicit spark: SparkSession)
    extends Workload(seed, tiny, t) {
  private val nodes = if (tiny) 400 else 4000
  private val parts = if (tiny) 4 else 16
  private val Scale = 1000000000L
  private var g: GraphData = _
  private var components: DataFrame = _

  def prepare(dir: String): Unit = {
    import spark.implicits._
    this.dir = dir
    g = GraphData.generate(seed, nodes, parts)
    g.edges.toDS().repartition(Tpch.Parts).write.mode("overwrite").parquet(s"$dir/edges.parquet")
  }

  def ops: Seq[(String, () => Check)] = Seq(
    "pagerank" -> (() => {
      val e = read("edges")
      val row = t("operators.graph.pagerank") {
        Graph.pageRank(e, "src", "dst", scale = Scale).get
          .agg(count(lit(1)), sum("rank"), sum("score")).head()
      }
      () => {
        val (n, mass, score) = (row.getLong(0), row.getLong(1), row.getDouble(2))
        ok(n == nodes && mass <= n * Scale && math.abs(score - 1.0) < 1e-6,
          s"pagerank over $n nodes has mass $mass, score sum $score")
      }
    }),
    "components" -> (() => {
      val e = read("edges")
      components = t("operators.graph.components")(
        pin(Graph.connectedComponents(e, "src", "dst").get))
      () => {
        val row = components.agg(count(lit(1)), countDistinct("component")).head()
        ok(row.getLong(0) == nodes && row.getLong(1) == g.components,
          s"${row.getLong(1)} components over ${row.getLong(0)} nodes, generated ${g.components}")
      }
    }),
    "sssp" -> (() => {
      val e = read("edges")
      val seeds = spark.range(1).select(col("id").as("node"))
      val row = t("operators.graph.sssp") {
        Graph.ssspWeighted(e, "src", "dst", "w", seeds, "node").get
          .agg(count(lit(1)), max("node"), min("dist"), sum(when(col("node") === 0, col("dist"))))
          .head()
      }
      // node 0 starts the first component, so everything reached lies in it
      val size0 = g.componentOf.count(_ == 0)
      () => ok(row.getLong(0) >= 1 && row.getLong(1) < size0 && row.getDouble(2) == 0.0 &&
        row.getDouble(3) == 0.0, s"sssp result $row, first component has $size0 nodes")
    }),
    "louvain" -> (() => {
      val e = read("edges")
      val labels = t("operators.graph.louvain")(pin(Graph.louvain(e, "src", "dst").get))
      () => {
        val cc = components
        val spread = labels.join(cc, Seq("node")).groupBy("community")
          .agg(countDistinct("component").as("k")).agg(count(lit(1)), max("k")).head()
        val n = labels.count()
        ok(n == nodes && spread.getLong(1) == 1L && spread.getLong(0) >= g.components,
          s"louvain labelled $n nodes into ${spread.getLong(0)} communities, " +
            s"max components per community ${spread.get(1)}")
      }
    }))
}

/** Feature engineering, MLlib fits and evaluation over a feature table:
  * a seed-picked half of lineitem joined with orders, built at set-up. */
final class Training(seed: Long, tiny: Boolean, t: Tracer)(implicit spark: SparkSession)
    extends Workload(seed, tiny, t) {
  private val orders = if (tiny) 1500 else 2000
  private val numeric = Seq("l_quantity", "l_discount", "l_tax", "o_totalprice")
  private val strings = Seq("l_returnflag", "o_orderpriority")
  private var encoded, scaled, features: DataFrame = _
  private var linReg: PipelineModel = _

  def prepare(dir: String): Unit = {
    this.dir = dir
    Tpch.write(spark, seed, orders, dir, dimensions = false)
    val (li, o) = (read("lineitem"), read("orders"))
    (for {
      j <- Join.inner(li, o, With(col("l_orderkey") === col("o_orderkey")))
      s <- Filter.where(j, pmod(xxhash64(col("l_orderkey"), lit(seed)), lit(2L)) === 0)
    } yield s.select((numeric ++ strings).map(col) :+ col("l_extendedprice").as("label"): _*))
      .get.write.mode("overwrite").parquet(s"$dir/features.parquet")
  }

  /** Fitted values repeat across rounds up to floating-point summation order. */
  private def close(op: String, v: Double): Option[String] = {
    val want = Workloads.expected.get(s"Training/$op")
      .filter(_ => seed == Workloads.DefaultSeed && !tiny)
      .getOrElse(Workloads.firstDigest.getOrElseUpdate(op, v.toString)).toDouble
    ok(v > 0 && !v.isInfinite && math.abs(v - want) <= 1e-6 * want, s"$op $v, expected $want")
  }

  def ops: Seq[(String, () => Check)] = Seq(
    "encode" -> (() => {
      val table = read("features")
      val m = t("estimator.encode_fit")(Features.encodeStrings(table, suffix = "_enc").fit(table))
      encoded = t("model.transform")(pin(m.transform(table).drop(strings: _*)))
      () => ok(strings.forall(s => encoded.columns.contains(s + "_enc")), "missing encodings")
    }),
    "scale" -> (() => {
      val m = t("estimator.scale_fit")(
        Features.standardiseNumbers(encoded, suffix = "_z", ignoreColumns = Set("label")).fit(encoded))
      scaled = t("model.transform")(pin(m.transform(encoded)))
      () => {
        val row = scaled.agg(avg("l_quantity_z"), stddev_pop("l_quantity_z")).head()
        ok(math.abs(row.getDouble(0)) < 1e-9 && math.abs(row.getDouble(1) - 1) < 1e-9,
          s"standardised l_quantity has mean ${row.get(0)}, sd ${row.get(1)}")
      }
    }),
    "vectorise" -> (() => {
      val v = Features.vectorise(scaled, ignoreColumns = numeric.toSet + "label")
      features = t("model.transform")(pin(v.transform(scaled)))
      () => ok(v.getInputCols.length == numeric.size, s"vectorised ${v.getInputCols.mkString(",")}")
    }),
    "linreg_fit" -> (() => {
      linReg = t("model.fit")(Preset.linearReg().fit(features))
      () => None
    }),
    "kmeans_fit" -> (() => {
      val km = t("model.fit")(Preset.kmeans(k = 4).fit(features))
      () => {
        val m = km.stages.last.asInstanceOf[KMeansModel]
        ok(m.clusterCenters.length == 4 && m.summary.trainingCost >= 0,
          s"kmeans has ${m.clusterCenters.length} centers, cost ${m.summary.trainingCost}")
      }
    }),
    "score" -> (() => {
      val pred = t("model.transform")(pin(linReg.transform(features)))
      val spec = SupervisedSpecimen(linReg, AssemblyFeature(Seq("features")), "prediction", "label")
      val rmse = t("evaluation.score")(spec.score(pred, RMSE).get)
      val mae = t("evaluation.score")(spec.score(pred, MAE).get)
      () => close("rmse", rmse).orElse(close("mae", mae))
        .orElse(ok(mae <= rmse, s"mae $mae above rmse $rmse"))
    }),
    "crossval" -> (() => {
      val design = SupervisedModelDesign("prediction", "label", Preset.linearReg())
      val feature = AssemblyFeature(numeric.map(_ + "_z") ++ strings.map(_ + "_enc"))
      val cv = t("evaluation.crossval")(CrossValidation(RMSE, 3).run(scaled, design, feature).get)
      () => close("crossval_rmse", cv)
    }))
}
