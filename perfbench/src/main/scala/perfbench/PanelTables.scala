package perfbench

import java.time.LocalDate

import ParquetOut.{F64, I32, I64, LocalTs, Str}

/** Seeded generator of the operator suite's input tables (the TPC-H-like
  * star schema plus the documents corpus), with the column names, types
  * and value ranges `graft.Tables` readers and the DuckDB oracle SQL
  * expect. lineitem has 6M x sf rows; the other tables scale with it as in
  * the repository's sf testdata.
  *
  * Table contents come from a fixed base seed and the run seed shuffles
  * every table's row order: the queries' work and answer sizes are the
  * same for every seed, while the physical layout the engine scans is not.
  */
object PanelTables {
  private val words = IndexedSeq("a", "the", "data", "spark", "query", "scan",
    "sort", "hash", "join", "group", "agg", "filter", "window", "stream", "batch",
    "table", "row", "column", "key", "value", "order", "line", "part", "customer",
    "vector", "merge", "fast", "slow", "big", "small")

  private val BaseSeed = 20240101L

  /** Writes every table under `dir` and returns its row counts. */
  def generate(dir: String, seed: Long, sf: Double): Map[String, Long] = {
    val rnd = new scala.util.Random(BaseSeed)
    val order = new scala.util.Random(seed)
    val nLine = (6000000 * sf).toInt
    val nOrders = nLine / 4
    val nCust = nOrders / 10
    val nPart = nLine / 30
    val nSupp = math.max(10, nLine / 600)
    val nDocs = math.max(200, (50000 * sf).toInt)
    val d0 = LocalDate.of(1995, 1, 1)
    def money(lo: Double, hi: Double) = math.rint((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def table(name: String, cols: (String, ParquetOut.Kind)*)(rows: Seq[Seq[Any]]) =
      name -> ParquetOut.write(dir, name, cols, order.shuffle(rows))

    // every twentieth document is a near-copy of an earlier one
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    Map(
      table("region", "r_regionkey" -> I32, "r_name" -> Str)(
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
          .map { case (n, i) => Seq(i, n) }),
      table("nation", "n_nationkey" -> I32, "n_name" -> Str, "n_regionkey" -> I32)(
        (0 until 25).map(i => Seq(i, s"NATION_$i", i % 5))),
      table("customer", "c_custkey" -> I64, "c_name" -> Str, "c_nationkey" -> I32,
        "c_acctbal" -> F64, "c_mktsegment" -> Str)((0 until nCust).map(i =>
        Seq(i.toLong, f"Customer#$i%09d", rnd.nextInt(25), money(-999.99, 9999.99),
          pick("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))),
      table("supplier", "s_suppkey" -> I64, "s_name" -> Str, "s_nationkey" -> I32,
        "s_acctbal" -> F64)((0 until nSupp).map(i =>
        Seq(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25), money(-999.99, 9999.99)))),
      table("part", "p_partkey" -> I64, "p_name" -> Str, "p_brand" -> Str, "p_type" -> Str,
        "p_size" -> I32, "p_retailprice" -> F64)((0 until nPart).map(i =>
        Seq(i.toLong, pick("small", "large", "red", "blue", "hot", "old") + " " +
          pick("ring", "bolt", "widget", "gear", "gizmo"), s"Brand#${1 + rnd.nextInt(25)}",
          pick("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"),
          1 + rnd.nextInt(50), math.rint((900 + (i % 1000) * 0.1) * 100) / 100))),
      table("orders", "o_orderkey" -> I64, "o_custkey" -> I64, "o_orderstatus" -> Str,
        "o_totalprice" -> F64, "o_orderdate" -> LocalTs, "o_orderpriority" -> Str)(
        (0 until nOrders).map(i => Seq(i.toLong, rnd.nextInt(nCust).toLong,
          pick("F", "O", "P"), money(1000, 500000), d0.plusDays(rnd.nextInt(2405).toLong),
          pick("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))),
      table("lineitem", "l_orderkey" -> I64, "l_partkey" -> I64, "l_suppkey" -> I64,
        "l_linenumber" -> I32, "l_quantity" -> F64, "l_extendedprice" -> F64,
        "l_discount" -> F64, "l_tax" -> F64, "l_returnflag" -> Str,
        "l_linestatus" -> Str, "l_shipdate" -> LocalTs)((0 until nLine).map { _ =>
        val q = (1 + rnd.nextInt(50)).toDouble
        Seq(rnd.nextInt(nOrders).toLong, rnd.nextInt(nPart).toLong,
          rnd.nextInt(nSupp).toLong, 1 + rnd.nextInt(7), q,
          math.rint(q * (900 + rnd.nextDouble() * 1200) * 100) / 100,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, pick("A", "N", "R"),
          pick("O", "F"), d0.plusDays(rnd.nextInt(2499).toLong))
      }),
      table("documents", "doc_id" -> I64, "text" -> Str, "lang" -> Str, "source" -> Str,
        "n_chars" -> I64)((0 until nDocs).map { i =>
        val t =
          if (i % 20 == 19) {
            val ws = texts(rnd.nextInt(texts.size)).split(' ')
            ws(rnd.nextInt(ws.length)) = words(rnd.nextInt(words.size))
            ws.mkString(" ")
          } else Seq.fill(8 + rnd.nextInt(80))(words(rnd.nextInt(words.size))).mkString(" ")
        texts += t
        Seq(i.toLong, t, pick("en", "en", "en", "de", "fr", "es", "zh"),
          s"src${rnd.nextInt(20)}", t.length.toLong)
      }))
  }
}
