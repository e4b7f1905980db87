package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Graft
import graft.operators.Upsert
import graft.sql.DerbyDialect

/** The paper's own job: `Graft.dfToTable` create, appends, then keyed
  * upserts, on the SQL route (embedded Derby) and the parquet route.
  *
  * One cycle, on each route in turn: create from 3/4 of `orders`, append
  * the other quarter in three slices, then [[upserts]] keyed deltas. Even-numbered
  * deltas carry nulls in `o_totalprice` (row-replace dispatch), odd
  * ones do not (combine_first dispatch). The seed picks the slices, the
  * updated keys and the new values. The SQL target stays at the full
  * `orders` size: Derby's MERGE cost grows with it. */
final class LoadWorkload(spark: SparkSession, dataDir: String, work: String,
    seed: Long, ops: Ops) extends Workload {
  import LoadWorkload._

  private val url = "jdbc:derby:memory:perfbench;create=true"
  private val pqBase = s"$work/parquet"
  private val pqPath = s"$pqBase/$schema/$table.parquet"
  private val keys = Seq("o_orderkey")

  private val orders = spark.read.parquet(s"$dataDir/orders.parquet")
  // seeded split: bucket 0..99 per key, 0-74 base, 75-99 three slices
  private val bucket = pmod(xxhash64(col("o_orderkey"), lit(seed)), lit(100))
  private var base: DataFrame = _
  private var slices: Seq[DataFrame] = Nil
  private var deltas: IndexedSeq[DataFrame] = IndexedSeq.empty
  private val rowsOf = scala.collection.mutable.Map.empty[DataFrame, Long]
  // (route, method, input) of the current cycle, for the expected state
  private val applied = ArrayBuffer.empty[(String, String, DataFrame)]
  private var rowBytes = 0.0

  def setup(): Unit = {
    base = orders.filter(bucket < 75).cache()
    slices = Seq((75, 83), (83, 91), (91, 100)).map { case (lo, hi) =>
      orders.filter(bucket >= lo && bucket < hi).cache()
    }
    // candidate keys for the updates: a seeded sample of the base
    val pool = base.select("o_orderkey")
      .filter(pmod(xxhash64(col("o_orderkey"), lit(seed + 1)), lit(499)) === 0)
      .collect().map(_.getLong(0)).sorted
    deltas = (0 until upserts).map(u => makeDelta(u, pool)).map(_.cache())
    (base +: (slices ++ deltas)).foreach(d => rowsOf(d) = d.count())
    rowBytes = Disk.bytes(s"$dataDir/orders.parquet").toDouble /
      (rowsOf(base) + slices.map(rowsOf).sum)
    // one small untimed cycle per route in a side schema, with an
    // upsert of each dispatch: JIT, codegen and the JDBC driver are warm
    // before the first timed request
    val small = slices.last.limit(5000).cache()
    rowsOf(small) = small.count()
    for (route <- Seq("sql", "parquet")) {
      call(route, "create", small, timed = false, warmSchema)
      call(route, "append", slices.head, timed = false, warmSchema)
      deltas.take(2).foreach(call(route, "upsert", _, timed = false, warmSchema))
    }
    applied.clear()
  }

  /** `deltaRows` rows: half give existing base orders new values, half
    * are new orders above every generated key. */
  private def makeDelta(u: Int, pool: Array[Long]): DataFrame = {
    val rnd = new scala.util.Random(seed * 1000003L + u)
    val existing = pool.slice(u * deltaRows / 2, (u + 1) * deltaRows / 2)
    val fresh = (0 until deltaRows - existing.length)
      .map(i => newKeyBase + u * 1000L + i)
    val withNulls = u % 2 == 0
    val rows = (existing.toSeq ++ fresh).zipWithIndex.map { case (k, i) =>
      // the nulls sit in a numeric column: the SQL route cannot write a
      // null string to Derby (Spark binds it as CLOB)
      val price: java.lang.Double =
        if (withNulls && i % 3 == 0) null
        else BigDecimal(rnd.nextInt(50000000), 2).toDouble
      Row(k, rnd.nextInt(1000).toLong, Seq("F", "O", "P")(rnd.nextInt(3)),
        price,
        java.time.LocalDateTime.of(1996 + rnd.nextInt(5), 1 + rnd.nextInt(12),
          1 + rnd.nextInt(28), 0, 0),
        s"${1 + rnd.nextInt(5)}-SEEDED")
    }
    spark.createDataFrame(java.util.List.of(rows: _*), orders.schema)
  }

  private def call(route: String, method: String, df: DataFrame,
      timed: Boolean, sch: String = schema): Unit = {
    val kind = s"$route.$method"
    def write(): Long = Trace.span("api.Graft.dfToTable",
        "route" -> route, "method" -> method) {
      if (route == "sql")
        Graft.dfToTable(df, table, sch, url, method,
          idField = if (method == "upsert") keys else Nil,
          dialect = DerbyDialect)
      else
        Graft.dfToTable(df, table, sch, pqBase, method,
          idField = if (method == "upsert") keys else Nil, parquet = true)
      rowsOf(df)
    }
    if (timed) ops.run(kind)(write()) else write()
    applied += ((route, method, df))
  }

  def unitSeconds: Double = 15

  def runUnits(n: Int): Unit = (1 to n).foreach { _ =>
    applied.clear()
    for (route <- Seq("sql", "parquet")) {
      call(route, "create", base, timed = true)
      slices.foreach(call(route, "append", _, timed = true))
      deltas.foreach(call(route, "upsert", _, timed = true))
    }
  }

  /** The expected table after this cycle's calls, computed in Spark with
    * the program's own upsert/append semantics. Both routes receive the
    * same calls. */
  private def expected(): DataFrame = {
    val calls = applied.groupBy(_._1).values.map(_.map(c => (c._2, c._3)))
    require(calls.toSet.size == 1, "the routes received different calls")
    calls.head.foldLeft(Option.empty[DataFrame]) {
      case (_, ("create", df)) => Some(df)
      case (Some(cur), ("append", df)) => Some(Upsert.append(df, cur))
      case (Some(cur), ("upsert", df)) => Some(Upsert.upsert(df, cur, keys))
      case (s, _) => s
    }.get
  }

  private var spaceAmp = 0.0

  def verify(): Unit = {
    val sqlGot = spark.read.format("jdbc").option("url", url)
      .option("dbtable", s""""$schema"."$table"""").load()
    val pqGot = spark.read.parquet(
      graft.sources.Generations.resolve(spark, pqPath))
    val fresh = s"$work/fresh-final"
    expected().write.parquet(fresh)
    val want = digest(spark.read.parquet(fresh))
    for ((route, got) <- Seq("sql" -> sqlGot, "parquet" -> pqGot)) {
      val have = digest(got)
      ops.check(s"load.$route.final_table", want == have,
        s"expected (rows, hash) $want, got $have")
    }
    spaceAmp = Disk.bytes(s"$pqBase/$schema").toDouble / Disk.bytes(fresh)
  }

  def facts: Map[String, Any] = Map("delta_rows" -> deltaRows,
    "row_bytes" -> rowBytes, "space_amp" -> spaceAmp)
}

object LoadWorkload {
  val table = "orders"
  val warmSchema = "warm"
  val schema = "bench"
  val upserts = 4
  val deltaRows = 16
  val newKeyBase = 1000000000L

  /** (rows, order-independent hash) over a canonical rendering that both
    * routes round-trip exactly: money at the SQL route's NUMERIC(18,2),
    * timestamps as text. */
  def digest(df: DataFrame): (Long, Long) = {
    val canon = df.select(col("o_orderkey").cast("long"),
      col("o_custkey").cast("long"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(18,2)").cast("string"),
      col("o_orderdate").cast("timestamp_ntz").cast("string"),
      col("o_orderpriority"))
    val r = canon.agg(count(lit(1)),
      sum(pmod(xxhash64(canon.columns.map(col).toIndexedSeq: _*),
        lit(2147483647L)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

}
