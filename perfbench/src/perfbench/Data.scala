package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

// Row types of the generated tables. Column names follow the TPC-H schema
// the library's own tests use; money and percentages are whole numbers so
// every sum is exact in any order and result digests are stable.
final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
    l_discount: Double, l_tax: Double, l_returnflag: String,
    l_linestatus: String, l_shipdate: Timestamp)
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
    c_acctbal: Double, c_mktsegment: String)
final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
    s_acctbal: Double)
final case class Part(p_partkey: Long, p_name: String, p_brand: String,
    p_type: String, p_size: Int, p_retailprice: Double)
final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class Region(r_regionkey: Int, r_name: String)
final case class Doc(doc_id: Long, text: String)
final case class Edge(src: Long, dst: Long, w: Double)

object Rng {
  /** An independent stream per (seed, table, partition). */
  def apply(seed: Long, stream: Long, part: Int = 0): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream * 1000003L + part))
}

/** TPC-H-shaped tables, `orders` orders with 1-7 line items each. */
object Tpch {
  val Parts = 4
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations = Vector(("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2),
    ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4),
    ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2),
    ("ROMANIA", 3), ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1))
  val Types = for {
    a <- Vector("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
    b <- Vector("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  } yield s"$a $b"
  val Brands = for (m <- 1 to 5; n <- 1 to 5) yield s"Brand#$m$n"
  val DayMs = 86400000L
  /** 1992-01-01 and 1995-06-17 as days since the epoch. */
  val Day0 = 8035L
  val CurrentDay = 9298L
  val OrderDays = 2405

  def ts(day: Long): Timestamp = new Timestamp(day * DayMs)

  final case class Sizes(orders: Int) {
    val customers: Int = math.max(50, orders / 10)
    val parts: Int = math.max(50, orders / 5)
    val suppliers: Int = math.max(10, orders / 100)
  }

  def retailPrice(partkey: Long): Double = (900 + partkey % 1100).toDouble

  /** Orders and their line items of one generation partition. */
  def ordersOf(seed: Long, s: Sizes, p: Int): (Vector[Order], Vector[LineItem]) = {
    val r = Rng(seed, 1, p)
    val orders = Vector.newBuilder[Order]
    val items = Vector.newBuilder[LineItem]
    var k = p.toLong
    while (k < s.orders) {
      val day = Day0 + r.nextInt(OrderDays)
      var total = 0.0
      val n = 1 + r.nextInt(7)
      for (line <- 1 to n) {
        val part = 1L + r.nextInt(s.parts)
        val qty = 1 + r.nextInt(50)
        val price = qty * retailPrice(part)
        val ship = day + 1 + r.nextInt(121)
        val flag = if (ship <= CurrentDay) (if (r.nextBoolean()) "R" else "A") else "N"
        val status = if (ship > CurrentDay) "O" else "F"
        total += price
        items += LineItem(k, part, 1L + r.nextInt(s.suppliers), line, qty.toDouble, price,
          r.nextInt(11).toDouble, r.nextInt(9).toDouble, flag, status, ts(ship))
      }
      orders += Order(k, 1L + r.nextInt(s.customers), if (day + 121 <= CurrentDay) "F" else "O",
        total, ts(day), Priorities(r.nextInt(Priorities.size)))
      k += Parts
    }
    (orders.result(), items.result())
  }

  /** Writes the tables as parquet under `dir`: orders and lineitem, and
    * with `dimensions` also customer, supplier, part, nation and region. */
  def write(spark: SparkSession, seed: Long, orders: Int, dir: String,
      dimensions: Boolean = true): Unit = {
    import spark.implicits._
    val s = Sizes(orders)
    val sc = spark.sparkContext
    def save[T](ds: org.apache.spark.sql.Dataset[T], name: String): Unit =
      ds.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val parts = sc.parallelize(0 until Parts, Parts)
    save(parts.flatMap(p => ordersOf(seed, s, p)._1).toDS(), "orders")
    save(parts.flatMap(p => ordersOf(seed, s, p)._2).toDS(), "lineitem")
    if (!dimensions) return
    val r = Rng(seed, 2)
    save(spark.createDataset((1 to s.customers).map { c =>
      Customer(c, f"Customer#$c%09d", r.nextInt(Nations.size), (r.nextInt(10999) - 999).toDouble,
        Segments(r.nextInt(Segments.size)))
    }).repartition(1), "customer")
    save(spark.createDataset((1 to s.suppliers).map { c =>
      Supplier(c, f"Supplier#$c%09d", r.nextInt(Nations.size), (r.nextInt(10999) - 999).toDouble)
    }).repartition(1), "supplier")
    save(spark.createDataset((1 to s.parts).map { c =>
      Part(c, s"part $c", Brands(r.nextInt(Brands.size)), Types(r.nextInt(Types.size)),
        1 + r.nextInt(50), retailPrice(c))
    }).repartition(1), "part")
    save(spark.createDataset(Nations.zipWithIndex.map { case ((n, reg), i) => Nation(i, n, reg) })
      .repartition(1), "nation")
    save(spark.createDataset(Regions.zipWithIndex.map { case (n, i) => Region(i, n) })
      .repartition(1), "region")
  }
}

/** A generated corpus with planted exact copies, near-duplicates,
  * low-quality documents and passages from a held-out evaluation set. */
final case class Corpus(docs: Vector[Doc], heldOut: Vector[Doc], lowQuality: Set[Long],
    exactCopies: Set[Long], nearDups: Set[Long], contaminated: Set[Long]) {
  /** Every (original, near-duplicate) pair planted. */
  var nearPairs: Set[(Long, Long)] = Set.empty
}

object Corpus {
  private val Syllables = Vector("ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu",
    "na", "pe", "qui", "ro", "su", "ta", "ve", "wi", "xo", "yu", "za", "bre", "cla", "dro",
    "fle", "gri", "plo", "stra", "tho", "vin", "mor", "sel", "tan", "rik", "dul", "ven")
  private val StopWords = Vector("the", "of", "and", "to", "with", "that", "be", "have")

  /** `base` distinct documents plus the planted classes, each a stated
    * share of `base`; ids of planted copies are above their originals. */
  def generate(seed: Long, base: Int): Corpus = {
    val r = Rng(seed, 3)
    val vocab = Vector.fill(6000)(Vector.fill(1 + r.nextInt(3))(Syllables(r.nextInt(Syllables.size))).mkString)
    def words(n: Int): Vector[String] = Vector.fill(n)(
      if (r.nextInt(100) < 18) StopWords(r.nextInt(StopWords.size)) else vocab(r.nextInt(vocab.size)))
    // no punctuation: tokens are whitespace-separated, so a passage copied
    // elsewhere keeps every one of its word n-grams
    def render(ws: Vector[String]): String = ws.grouped(12).map(_.mkString(" ")).mkString("\n")
    val texts = Vector.fill(base)(words(60 + r.nextInt(100)))
    val nPlant = math.max(2, base / 20)
    val originals = r.ints(0, base).distinct().limit(2L * nPlant).toArray.toVector
    val exactOf = originals.take(nPlant)
    val nearOf = originals.drop(nPlant)
    val heldOut = Vector.tabulate(nPlant)(i => Doc(i, render(words(40 + r.nextInt(40)))))
    var id = base.toLong
    def next(): Long = { id += 1; id - 1 }
    val low = Vector.fill(nPlant)(Doc(next(), render(words(15 + r.nextInt(25)))))
    val exact = exactOf.map(o => Doc(next(), render(texts(o))))
    val nearPairs = Vector.newBuilder[(Long, Long)]
    val near = nearOf.map { o =>
      // two replaced words: Jaccard of word 3-shingles stays above 0.8
      val at = r.ints(0, texts(o).size).distinct().limit(2).toArray
      val edited = at.foldLeft(texts(o)) { (ws, i) =>
        val w = vocab(r.nextInt(vocab.size))
        ws.updated(i, if (w == ws(i)) w + "x" else w)
      }
      val d = Doc(next(), render(edited))
      nearPairs += ((o.toLong, d.doc_id))
      d
    }
    // a 12-word passage of a held-out document inside otherwise fresh text
    val contaminated = heldOut.map { h =>
      val hw = h.text.split("\\s+").toVector
      val at = r.nextInt(hw.size - 12)
      val ws = words(40 + r.nextInt(60))
      val cut = r.nextInt(ws.size)
      Doc(next(), render(ws.take(cut) ++ hw.slice(at, at + 12) ++ ws.drop(cut)))
    }
    val all = texts.zipWithIndex.map { case (t, i) => Doc(i, render(t)) } ++ low ++ exact ++
      near ++ contaminated
    // shuffle row order (ids unchanged) so planted rows spread over partitions
    val order = all.indices.map(i => (r.nextLong(), i)).sortBy(_._1).map(_._2)
    val c = Corpus(order.map(all).toVector, heldOut, low.map(_.doc_id).toSet,
      exact.map(_.doc_id).toSet, near.map(_.doc_id).toSet, contaminated.map(_.doc_id).toSet)
    c.nearPairs = nearPairs.result().toSet
    c
  }
}

/** An edge list of `components` disjoint connected parts over `nodes`
  * nodes: a random spanning tree per part plus two extra edges per node,
  * with whole-number weights 1-9. */
final case class GraphData(edges: Vector[Edge], componentOf: Vector[Int], components: Int)

object GraphData {
  def generate(seed: Long, nodes: Int, components: Int): GraphData = {
    val r = Rng(seed, 4)
    // cut points give parts of at least 2 nodes
    val cuts = (Iterator.continually(1 + r.nextInt(nodes - 1)).distinct
      .filter(c => c % 2 == 0).take(components - 1).toVector :+ 0 :+ nodes).sorted.distinct
    val bounds = cuts.zip(cuts.tail)
    val edges = Vector.newBuilder[Edge]
    val compOf = new Array[Int](nodes)
    bounds.zipWithIndex.foreach { case ((a, b), ci) =>
      for (v <- a until b) compOf(v) = ci
      for (v <- a + 1 until b) {
        val u = a + r.nextInt(v - a)
        edges += (if (r.nextBoolean()) Edge(u, v, 1 + r.nextInt(9)) else Edge(v, u, 1 + r.nextInt(9)))
      }
      for (_ <- 0 until 2 * (b - a)) {
        val u = a + r.nextInt(b - a)
        val v = a + r.nextInt(b - a)
        if (u != v) edges += Edge(u, v, 1 + r.nextInt(9))
      }
    }
    GraphData(edges.result(), compOf.toVector, bounds.size)
  }
}
