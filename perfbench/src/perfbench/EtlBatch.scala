package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.etl.Ingestion
import graft.lake.MergeTable
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.{Done, Retry, Stage}

/** The reference flow: a raw zone of products CSV, orders `.xlsx` and
  * order_items CSV with seeded dirty rows → the three ingestion jobs under
  * the pipeline runner (markers, archive) → catalog registration → count
  * and top-5-products SQL → an incremental batch of new and changed rows
  * (MERGE) → batch 1 landed again, which must skip. */
final class EtlBatch(spark: SparkSession, seed: Long) extends Workload {
  import EtlBatch._

  private var gen: Gen = _

  /** The archive moves and the skipped rerun take a millisecond or less;
    * their jitter would swamp a geometric mean, so they are reported only
    * per layer. */
  def opKinds: Set[String] = Set("etl.products", "etl.orders", "etl.order_items",
    "sql.register", "sql.count", "sql.top_products",
    "etl.incr.products", "etl.incr.orders", "etl.incr.order_items")

  def inputs: Map[String, Any] =
    if (gen == null) Map.empty
    else Map("rows" -> gen.rawRows, "bytes" -> gen.rawBytes, "files" -> 6,
      "date_partitions" -> gen.datesTouched, "departments" -> Departments.size,
      "valid_rows_batch1" -> Map("products" -> gen.p1.valid, "orders" -> gen.o1.valid,
        "order_items" -> gen.i1.valid),
      "rejected_rows_batch1" -> Map("products" -> gen.p1.rejected,
        "orders" -> gen.o1.rejected, "order_items" -> gen.i1.rejected))

  def setup(ctx: Ctx, dir: Path): Unit = gen = new Gen(seed, dir)

  def summary(ctx: Ctx): Map[String, Double] = Map(
    "load_s" -> Stats.median(ctx.samplesOf("phase.load")),
    "incr_s" -> Stats.median(ctx.samplesOf("phase.incr")),
    "query_s" -> Stats.median(ctx.samplesOf("phase.query")))

  def run(ctx: Ctx, dir: Path): Unit = {
    val g = gen
    val lake = dir.resolve("lake")
    val markers = dir.resolve("processed/_processed_log")
    val roots = Seq("products" -> "department", "orders" -> "date", "order_items" -> "date")
    def table(n: String) = MergeTable(spark, lake.resolve(n).toString,
      Some(roots.toMap.apply(n)))
    def raw(ds: String) = dir.resolve("raw").resolve(ds)

    def stages(batch: String, prefix: String, exp: Seq[Expected]): Seq[Stage] = {
      def job(ds: String, e: Expected)(body: => Ingestion.JobResult): Stage =
        Stage(s"$ds", Some(fileName(ds, batch)), Retry(2, 50L), () => {
          val r = ctx.op(s"$prefix$ds")(body)
          ctx.expect(r.validRows == e.valid && r.rejectedRows == e.rejected,
            s"$batch $ds: valid/rejected ${r.validRows}/${r.rejectedRows}, " +
              s"expected ${e.valid}/${e.rejected}")
          ctx.note("etl.rows_valid", r.validRows.toDouble)
          ctx.note("etl.rows_rejected", r.rejectedRows.toDouble)
          ctx.note("lake.rows_changed", r.validRows.toDouble)
          Done
        })
      val q = dir.resolve("quarantine")
      Seq(
        job("products", exp(0))(Ingestion.productsJob(spark, raw("products").toString,
          lake.resolve("products").toString, q.resolve(s"products_$batch").toString)),
        job("orders", exp(1))(Ingestion.ordersJobXlsx(spark,
          raw("orders").resolve(fileName("orders", batch)).toString,
          lake.resolve("orders").toString, q.resolve(s"orders_$batch").toString)),
        job("order_items", exp(2))(Ingestion.orderItemsJob(spark,
          raw("order_items").toString, lake.resolve("orders").toString,
          lake.resolve("products").toString, lake.resolve("order_items").toString,
          q.resolve(s"order_items_$batch").toString)),
        Stage("archive", Some(s"archive_$batch"), Retry(2, 50L), () => {
          ctx.op("pipeline.archive") {
            for (ds <- Datasets)
              Pipeline.archive(raw(ds).resolve(fileName(ds, batch)),
                dir.resolve("archived").resolve(batch).resolve(ds))
          }
          Done
        }))
    }
    def runPipeline(st: Seq[Stage]): Seq[Pipeline.StageReport] = {
      val reps = ctx.tracer.span("pipeline.run")(Pipeline.run(st, markers,
        sleep = ms => { ctx.note("pipeline.retries", 1); Thread.sleep(ms) }))
      val bad = reps.filter(_.status == "failed")
      if (bad.nonEmpty)
        throw new IllegalStateException(s"pipeline stage failed: ${bad.mkString(", ")}")
      reps
    }
    def register(): Unit = ctx.op("sql.register") {
      for ((n, _) <- roots) Ingestion.register(spark, table(n), n)
    }
    def counts(): Seq[Long] = {
      val r = spark.sql("SELECT (SELECT count(*) FROM graft.products), " +
        "(SELECT count(*) FROM graft.orders), (SELECT count(*) FROM graft.order_items)")
        .collect().head
      Seq(r.getLong(0), r.getLong(1), r.getLong(2))
    }

    // batch 1: load and register
    ctx.phase("phase.load") {
      val t0 = System.nanoTime()
      runPipeline(stages("b1", "etl.", Seq(g.p1, g.o1, g.i1)))
      ctx.note("etl.rows_per_s", g.b1Rows / ((System.nanoTime() - t0) / 1e9))
      register()
    }
    for ((ds, e) <- Datasets.zip(Seq(g.p1, g.o1, g.i1))) {
      val q = spark.read.option("header", "true").csv(
        dir.resolve("quarantine").resolve(s"${ds}_b1").toString).count()
      ctx.expect(q == e.rejected, s"b1 $ds quarantine rows $q, expected ${e.rejected}")
    }

    // the Athena step: count validation and top-5 products
    ctx.phase("phase.query") {
      val c = ctx.op("sql.count")(counts())
      ctx.expect(c == Seq(g.p1.valid, g.o1.valid, g.i1.valid).map(_.toLong),
        s"b1 table counts $c, expected ${Seq(g.p1.valid, g.o1.valid, g.i1.valid)}")
      val top = ctx.op("sql.top_products")(spark.sql(
        """SELECT i.product_id, p.product_name, count(*) AS n
          |FROM graft.order_items i JOIN graft.products p ON i.product_id = p.product_id
          |GROUP BY i.product_id, p.product_name
          |ORDER BY n DESC, i.product_id LIMIT 5""".stripMargin).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq)
      ctx.expect(top == g.top5, s"top-5 products $top, expected ${g.top5}")
    }

    // incremental batch: new and changed rows MERGE into the tables
    val versions = ctx.phase("phase.incr") {
      g.landBatch2()
      runPipeline(stages("b2", "etl.incr.", Seq(g.p2, g.o2, g.i2)))
      register()
      roots.map { case (n, _) => table(n).latestVersion() }
    }
    val c2 = counts()
    ctx.expect(c2 == g.finalCounts, s"b2 table counts $c2, expected ${g.finalCounts}")
    val sums = spark.sql("SELECT (SELECT sum(total_amount) FROM graft.orders), " +
      "(SELECT sum(add_to_cart_order) FROM graft.order_items)").collect().head
    ctx.expect(math.abs(sums.getDouble(0) - g.finalAmount) < 1e-6 * g.finalAmount &&
      sums.getLong(1) == g.finalCartSum,
      s"b2 sums (${sums.getDouble(0)}, ${sums.getLong(1)}), " +
        s"expected (${g.finalAmount}, ${g.finalCartSum})")

    // batch 1 landed again: every stage must skip and no table version move
    g.relandBatch1()
    val reps = ctx.op("pipeline.rerun")(runPipeline(stages("b1", "etl.", Seq(g.p1, g.o1, g.i1))))
    val after = roots.map { case (n, _) => table(n).latestVersion() }
    ctx.expect(reps.size == 4 && reps.forall(_.status == "already_processed"),
      s"rerun reports ${reps.map(r => r.name -> r.status)}")
    ctx.expect(after == versions, s"rerun moved table versions $versions -> $after")
    ctx.note("pipeline.stages_skipped", reps.count(_.status == "already_processed").toDouble)

    ctx.addBytes(IO.bytesUnder(lake), g.rawBytes)
    if (ctx.tracer.enabled) Lake.note(ctx, roots.map { case (n, pc) =>
      MergeTable(spark, lake.resolve(n).toString, Some(pc)) })
  }
}

object EtlBatch {
  val Datasets = Seq("products", "orders", "order_items")
  val Departments = Seq("produce", "dairy", "bakery", "frozen", "pantry", "snacks",
    "beverages", "household", "personal", "babies", "pets", "deli", "meat",
    "seafood", "bulk", "international", "breakfast", "canned", "dry_goods",
    "alcohol", "missing")
  val Products = 200
  val Orders = 800
  /** Order dates span this many days from 1992-01-01: one lake
    * partition per day for orders and for order_items. */
  val Days = 14
  val Base: LocalDate = LocalDate.of(1992, 1, 1)

  def fileName(ds: String, batch: String): String =
    if (ds == "orders") s"orders_$batch.xlsx" else s"${ds}_$batch.csv"

  final case class Expected(valid: Int, rejected: Int)

  final case class Ord(id: String, user: String, ts: String, amount: Double)
  final case class Item(id: String, order: String, user: String, days: Integer,
      product: String, cart: Int, reordered: Boolean, ts: String)

  val OrderHeader = Seq("order_num", "order_id", "user_id", "order_timestamp", "total_amount")
  val ItemHeader = Seq("id", "order_id", "user_id", "days_since_prior_order",
    "product_id", "add_to_cart_order", "reordered", "order_timestamp")

  private def tsOf(day: Int, secs: Int): String = {
    val d = Base.plusDays(day.toLong)
    f"$d ${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02d"
  }

  private def round2(x: Double): Double = math.round(x * 100) / 100.0

  /** The seeded raw zone of one pass, with the counts every check expects.
    * Dirty rows are disjoint by kind, so each lands in exactly one of:
    * table, quarantine, dropped as a duplicate, dropped as an FK orphan,
    * or skipped with a header-mismatched sheet. */
  final class Gen(seed: Long, dir: Path) {
    private val rng = new SplittableRandom(seed)
    private val raw = dir.resolve("raw")
    private val landing = dir.resolve("landing")

    // ---- batch 1 ----
    val prodName: Map[String, String] =
      (0 until Products).map(i => f"p$i%05d" -> s"product_${i}_${rng.nextInt(1000)}").toMap
    private val prodRows: Seq[Seq[Any]] = (0 until Products).map { i =>
      val id = f"p$i%05d"
      val dept = rng.nextInt(Departments.size)
      Seq(id, dept + 1, Departments(dept), prodName(id))
    }
    private val prodDept = prodRows.map(r => r.head.toString -> r).toMap
    private val prodNulls = (0 until 12).map { i =>
      val r = Array[Any](s"pn$i", 3, "dairy", s"ghost_$i")
      r(i % 4) = null
      r.toSeq
    }
    private val prodDups = pick(Products, 12).map { i =>
      val r = prodRows(i); Seq(r(0), r(1), r(2), s"${r(3)}_dup")
    }
    val p1 = Expected(Products, prodNulls.size)

    val orders: Seq[Ord] = (0 until Orders).map { i =>
      Ord(f"o$i%06d", s"u${rng.nextInt(3000)}", tsOf(rng.nextInt(Days), rng.nextInt(86400)),
        round2(5 + rng.nextDouble() * 495))
    }
    private val ordNulls = (0 until 15).map { i =>
      val o = Ord(s"on$i", s"u$i", tsOf(rng.nextInt(Days), 3600), 10.0)
      i % 3 match {
        case 0 => o.copy(id = null); case 1 => o.copy(user = null); case _ => o.copy(ts = null)
      }
    }
    private val ordDups = pick(Orders, 15).map { i =>
      val o = orders(i)
      o.copy(ts = o.ts.take(11) + "23:59:59", amount = o.amount + 1)
    }.filter(d => d.ts > orders.find(_.id == d.id).get.ts)
    private val ordNonPos = (0 until 15).map(i =>
      Ord(s"oz$i", s"u$i", tsOf(rng.nextInt(Days), 7200), if (i % 2 == 0) 0.0 else -12.5))
    private val ordRange = (0 until 10).map(i =>
      Ord(s"or$i", s"u$i", if (i % 2 == 0) "1985-03-01 10:00:00" else "2150-06-01 10:00:00", 20.0))
    val o1 = Expected(Orders, ordNulls.size + ordNonPos.size + ordRange.size)

    private var itemSeq = 0
    private def nextItemId(): String = { itemSeq += 1; f"i$itemSeq%07d" }
    /** Popularity skewed toward low product indices, so the top-5 is
      * well separated. */
    private def product(): String = f"p${(Products * math.pow(rng.nextDouble(), 2.5)).toInt}%05d"
    private def itemsFor(o: Ord): Seq[Item] = (1 to 1 + rng.nextInt(4)).map { k =>
      Item(nextItemId(), o.id, o.user, if (rng.nextInt(5) == 0) null else Integer.valueOf(rng.nextInt(30)),
        product(), k, rng.nextBoolean(), o.ts)
    }
    val items: Seq[Item] = orders.flatMap(itemsFor)
    private val itemNulls = (0 until 20).map { i =>
      val it = Item(s"in$i", orders(i).id, orders(i).user, null, "p00001", 1, false, orders(i).ts)
      i % 5 match {
        case 0 => it.copy(id = null); case 1 => it.copy(order = null)
        case 2 => it.copy(product = null); case 3 => it.copy(user = null)
        case _ => it.copy(ts = null)
      }
    }
    private val itemDups = pick(items.size, 20).map { i =>
      val it = items(i); it.copy(ts = it.ts.take(11) + "23:59:59", cart = it.cart + 50)
    }.filter(d => d.ts > items.find(_.id == d.id).get.ts)
    private val itemOrphans =
      (0 until 15).map(i => Item(s"io$i", s"ox$i", "u1", null, "p00002", 1, true, orders(i).ts)) ++
      (0 until 15).map(i => Item(s"ip$i", orders(i).id, orders(i).user, null, s"px$i", 1, true, orders(i).ts))
    val i1 = Expected(items.size, itemNulls.size)

    val top5: Seq[(String, String, Long)] = items.groupBy(_.product).toSeq
      .map { case (p, xs) => (p, prodName(p), xs.size.toLong) }
      .sortBy(x => (-x._3, x._1)).take(5)

    // ---- batch 2: new and changed rows, a few null-field rejects ----
    private val newProds = (0 until 20).map { i =>
      val id = f"p${Products + i}%05d"; Seq(id, 5, "pantry", s"product_${Products + i}_new")
    }
    private val chgProds = pick(Products, 20).map { i =>
      val r = prodDept(f"p$i%05d"); Seq(r(0), r(1), r(2), s"${r(3)}_v2")
    }
    private val newOrders = (0 until 100).map { i =>
      Ord(f"o${Orders + i}%06d", s"u${rng.nextInt(3000)}",
        tsOf(Days - 1 - rng.nextInt(3), rng.nextInt(86400)), round2(5 + rng.nextDouble() * 495))
    }
    private val chgOrders = pickRecent(orders.map(_.ts), 50).map { i =>
      orders(i).copy(amount = round2(orders(i).amount + 7.25))
    }
    private val newItems = newOrders.flatMap(itemsFor)
    private val chgItems = pickRecent(items.map(_.ts), 50).map { i =>
      val it = items(i); it.copy(cart = it.cart + 100, reordered = !it.reordered)
    }
    private def nullRows[T](n: Int)(f: Int => T): Seq[T] = (0 until n).map(f)
    val p2 = Expected(newProds.size + chgProds.size, 5)
    val o2 = Expected(newOrders.size + chgOrders.size, 5)
    val i2 = Expected(newItems.size + chgItems.size, 5)

    val finalCounts: Seq[Long] =
      Seq(Products + newProds.size, Orders + newOrders.size, items.size + newItems.size)
        .map(_.toLong)
    val finalAmount: Double = {
      val chg = chgOrders.map(o => o.id -> o.amount).toMap
      (orders.map(o => chg.getOrElse(o.id, o.amount)) ++ newOrders.map(_.amount)).sum
    }
    val finalCartSum: Long = {
      val chg = chgItems.map(it => it.id -> it.cart).toMap
      (items.map(it => chg.getOrElse(it.id, it.cart)) ++ newItems.map(_.cart)).map(_.toLong).sum
    }
    val datesTouched: Int = (orders ++ newOrders).map(_.ts.take(10)).distinct.size

    val b1Rows: Long = (prodRows.size + prodNulls.size + prodDups.size +
      orders.size + ordNulls.size + ordDups.size + ordNonPos.size + ordRange.size +
      MismatchedRows + items.size + itemNulls.size + itemDups.size + itemOrphans.size).toLong
    val rawRows: Long = b1Rows + newProds.size + chgProds.size + 5 + newOrders.size +
      chgOrders.size + 5 + newItems.size + chgItems.size + 5

    /** `k` distinct indices of rows dated in the last week: changes land
      * on recent orders, so a MERGE rewrites few partitions. */
    private def pickRecent(ts: Seq[String], k: Int): Seq[Int] = {
      val cut = tsOf(Days - 7, 0)
      val recent = ts.indices.filter(i => ts(i) >= cut)
      pick(recent.size, k).map(recent)
    }

    private def pick(n: Int, k: Int): Seq[Int] = {
      val s = mutable.LinkedHashSet.empty[Int]
      while (s.size < k) s += rng.nextInt(n)
      s.toSeq
    }

    private def ordCells(o: Ord, num: Int): Seq[String] =
      Seq(num.toString, o.id, o.user, o.ts, o.amount.toString)
    private def itemCells(it: Item): Seq[Any] =
      Seq(it.id, it.order, it.user, it.days, it.product, it.cart, it.reordered, it.ts)

    private def writeBatch(root: Path, batch: String, prods: Seq[Seq[Any]],
        ords: Seq[Ord], its: Seq[Item], extraSheet: Boolean): Long = {
      val p = IO.writeCsv(root.resolve("products").resolve(fileName("products", batch)),
        Seq("product_id", "department_id", "department", "product_name"), prods.iterator)
      // Two data sheets, the second with its columns in another order
      // (the reader aligns by name), plus one header-mismatched sheet.
      val cells = ords.zipWithIndex.map { case (o, n) => ordCells(o, n + 1) }
      val (a, b) = cells.splitAt(cells.size / 2)
      val perm = Seq(4, 3, 2, 1, 0)
      val sheets = Seq("orders_a" -> (OrderHeader +: a),
        "orders_b" -> (perm.map(OrderHeader) +: b.map(r => perm.map(r)))) ++
        (if (extraSheet) Seq("notes" -> (Seq("order_ref", "user", "when", "amount") +:
          (0 until MismatchedRows).map(i => Seq(s"x$i", "u1", "2000-01-01 00:00:00", "1.0"))))
         else Nil)
      val o = IO.writeXlsx(root.resolve("orders").resolve(fileName("orders", batch)), sheets)
      val i = IO.writeCsv(root.resolve("order_items").resolve(fileName("order_items", batch)),
        ItemHeader, its.iterator.map(itemCells))
      p + o + i
    }

    private def shuffled[T](xs: Seq[T]): Seq[T] = {
      val a = xs.toBuffer
      for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toSeq
    }

    private val b1Bytes = writeBatch(raw, "b1",
      shuffled(prodRows ++ prodNulls ++ prodDups),
      shuffled(orders ++ ordNulls ++ ordDups ++ ordNonPos ++ ordRange),
      shuffled(items ++ itemNulls ++ itemDups ++ itemOrphans), extraSheet = true)
    private val b2Bytes = writeBatch(landing, "b2",
      shuffled(newProds ++ chgProds ++ nullRows(5)(i => Seq(s"pm$i", null, "dairy", "x"))),
      shuffled(newOrders ++ chgOrders ++ nullRows(5)(i => Ord(s"om$i", null, tsOf(Days - 1, 60), 3.0))),
      shuffled(newItems ++ chgItems ++ nullRows(5)(i => Item(s"im$i", orders(i).id, null, null,
        "p00001", 1, false, orders(i).ts))), extraSheet = false)
    val rawBytes: Long = b1Bytes + b2Bytes

    def landBatch2(): Unit = for (ds <- Datasets) {
      val f = fileName(ds, "b2")
      Files.createDirectories(raw.resolve(ds))
      Files.move(landing.resolve(ds).resolve(f), raw.resolve(ds).resolve(f))
    }

    def relandBatch1(): Unit = for (ds <- Datasets) {
      val f = fileName(ds, "b1")
      Files.copy(dir.resolve("archived/b1").resolve(ds).resolve(f), raw.resolve(ds).resolve(f),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }
  val MismatchedRows = 20
}
