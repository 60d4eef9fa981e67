package perfbench

import java.nio.file.Path
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.lake.MergeTable
import graft.streaming.StreamIngest

/** The reference's event-driven "one execution per uploaded file": a bulk
  * loaded orders table partitioned by date, then a closed loop that lands
  * one small seeded CDC file, drains it with `runCdcAvailableNow` (one
  * commit per file), and issues one read checked against an in-memory
  * model of the applied changes. */
final class CdcStream(spark: SparkSession, seed: Long) extends Workload {
  import CdcStream._

  private final case class R(user: String, ts: String, amount: Double, date: String, seq: Long)

  // per-pass state, rebuilt by setup
  private var rng: SplittableRandom = _
  private var live: mutable.Map[Long, R] = _
  private var byDate: Array[mutable.ArrayBuffer[Long]] = _
  private var snapshots: mutable.Map[Long, Map[Long, R]] = _
  private var version = 0L
  private var seqNo = 0L
  private var nextKey = 0L
  private var inputBytes = 0L
  private var eventsPerPass = 0

  def opKinds: Set[String] = Set("cdc.ingest", "lake.point_read", "lake.time_travel", "lake.changes")

  def inputs: Map[String, Any] = Map("base_rows" -> BaseRows, "files" -> (1 + FilesPerPass),
    "cdc_events" -> eventsPerPass, "bytes" -> inputBytes, "date_partitions" -> Days,
    "reads" -> (0 until FilesPerPass).map(readsAfter(_).size).sum)

  def summary(ctx: Ctx): Map[String, Double] = {
    val ingest = ctx.samplesOf("cdc.ingest")
    val reads = Seq("lake.point_read", "lake.time_travel", "lake.changes").flatMap(ctx.samplesOf)
    Map("ingest_p50_s" -> Stats.median(ingest), "ingest_tail_s" -> Stats.tail(ingest)._2,
      "read_p50_s" -> Stats.median(reads), "read_tail_s" -> Stats.tail(reads)._2)
  }

  private def dateOf(day: Int) = Base.plusDays(day.toLong).toString

  /** The orders table: partitioned by date, with per-file order_id
    * min/max stats. */
  private def open(root: String) = MergeTable(spark, root, Some("date"), Some("order_id"))

  /** A day index skewed toward the most recent dates. */
  private def recentDay(): Int = Days - 1 - (Days * math.pow(rng.nextDouble(), 3)).toInt

  private def add(k: Long, r: R): Unit = {
    live(k) = r
    byDate(LocalDate.parse(r.date).toEpochDay.toInt - Base.toEpochDay.toInt) += k
  }

  private def remove(k: Long): Unit = {
    val r = live.remove(k).get
    byDate(LocalDate.parse(r.date).toEpochDay.toInt - Base.toEpochDay.toInt) -= k
  }

  private def newRow(day: Int): R = {
    val s = rng.nextInt(86400)
    R(s"u${rng.nextInt(2000)}", f"${dateOf(day)}T${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d",
      math.round((5 + rng.nextDouble() * 495) * 100) / 100.0, dateOf(day), 0L)
  }

  private def cells(k: Long, r: R): Seq[Any] = Seq(k, r.user, r.ts, r.amount, r.date, r.seq)

  def setup(ctx: Ctx, dir: Path): Unit = {
    rng = new SplittableRandom(seed)
    live = mutable.Map.empty
    byDate = Array.fill(Days)(mutable.ArrayBuffer.empty[Long])
    snapshots = mutable.Map.empty
    seqNo = 0L; nextKey = 0L; eventsPerPass = 0
    // Order ids grow with time, as a sequence-assigned key does, so each
    // date partition holds a narrow key range the per-file stats prune on.
    for (day <- Seq.fill(BaseRows)(rng.nextInt(Days)).sorted) { add(nextKey, newRow(day)); nextKey += 1 }
    val t = open(dir.resolve("lake/orders").toString)
    val base = dir.resolve("base/orders.csv")
    inputBytes = IO.writeCsv(base, BaseSchema.fieldNames.toSeq,
      live.toSeq.sortBy(_._1).iterator.map { case (k, r) => cells(k, r) })
    version = t.overwrite(spark.read.schema(BaseSchema).option("header", "true").csv(base.toString))
    snapshots(version) = live.toMap
  }

  /** One file's events: updates, inserts and deletes, each key at most
    * once, sequenced above everything applied so far. */
  private def events(): Seq[(String, Long, R)] = {
    val used = mutable.Set.empty[Long]
    val out = mutable.ArrayBuffer.empty[(String, Long, R)]
    def liveRecent(): Option[Long] = {
      var tries = 0; var found: Option[Long] = None
      while (found.isEmpty && tries < 50) {
        val b = byDate(recentDay())
        if (b.nonEmpty) { val k = b(rng.nextInt(b.size)); if (!used(k)) found = Some(k) }
        tries += 1
      }
      found
    }
    for (i <- 0 until EventsPerFile) {
      seqNo += 1
      i % 4 match {
        case 0 | 1 => liveRecent().foreach { k =>
          val r = live(k)
          out += (("update", k, r.copy(amount = math.round((r.amount + 1.5) * 100) / 100.0, seq = seqNo)))
          used += k
        }
        case 2 =>
          val k = nextKey; nextKey += 1
          out += (("insert", k, newRow(Days - 1 - rng.nextInt(3)).copy(seq = seqNo)))
          used += k
        case _ => liveRecent().foreach { k =>
          out += (("delete", k, live(k).copy(seq = seqNo)))
          used += k
        }
      }
    }
    out.toSeq
  }

  private def diff(a: Map[Long, R], b: Map[Long, R]): Set[(Long, String)] =
    (a.keySet ++ b.keySet).flatMap { k =>
      (a.get(k), b.get(k)) match {
        case (None, Some(_)) => Some(k -> "insert")
        case (Some(_), None) => Some(k -> "delete")
        case (Some(x), Some(y)) if x != y => Some(k -> "update")
        case _ => None
      }
    }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Double, Long)] =
    df.select("order_id", "total_amount", "seq").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap

  private def modelRows(m: Map[Long, R]): Map[Long, (Double, Long)] =
    m.map { case (k, r) => k -> (r.amount, r.seq) }

  /** Land and drain FilesPerPass files, each followed by its reads; then
    * check the whole table against the model. */
  def run(ctx: Ctx, dir: Path): Unit = {
    val root = dir.resolve("lake/orders").toString
    val rawDir = dir.resolve("raw")
    val first = version
    var table = open(root)
    val scanned = mutable.ArrayBuffer.empty[Double]
    val pruned = mutable.ArrayBuffer.empty[Double]
    for (f <- 0 until FilesPerPass) {
      val evs = events()
      eventsPerPass += evs.size
      val file = rawDir.resolve(f"cdc-$f%03d.csv")
      val applied = ctx.op("cdc.ingest") {
        inputBytes += IO.writeCsv(file, CdcSchema.fieldNames.toSeq, evs.iterator.map {
          case (ct, k, r) => ct +: cells(k, r)
        })
        val n = ctx.tracer.span("cdc.drain")(StreamIngest.runCdcAvailableNow(spark,
          rawDir.toString, CdcSchema, table, "order_id", "seq",
          dir.resolve("checkpoint").toString))
        table = ctx.tracer.span("lake.open") {
          val t = open(root); t.latestVersion(); t
        }
        n
      }
      for ((ct, k, r) <- evs) if (ct == "delete") remove(k) else {
        if (live.contains(k)) remove(k)
        add(k, r)
      }
      val v = table.latestVersion()
      ctx.expect(applied == 1 && v == version + 1,
        s"file $f: applied $applied batches, version $version -> $v")
      version = v
      snapshots(v) = live.toMap
      ctx.note("lake.rows_changed", evs.size.toDouble)

      readsAfter(f).foreach {
        case "lake.point_read" =>
          val k = evs(rng.nextInt(evs.size))._2
          def point() = table.probeKeys("order_id", Seq(k)).filter(col("order_id") === k)
          val got = ctx.op("lake.point_read")(rowsOf(point()))
          ctx.expect(got == modelRows(live.toMap).filter(_._1 == k),
            s"point read of $k at v$version: $got")
          if (ctx.tracer.enabled) {
            val n = point().inputFiles.length.toDouble
            scanned += n
            pruned += n / math.max(1, table.read().inputFiles.length)
          }
        case "lake.time_travel" =>
          val at = first + rng.nextInt((version - first).toInt)
          val got = ctx.op("lake.time_travel")(rowsOf(table.readVersion(at)))
          ctx.expect(got == modelRows(snapshots(at)), s"time travel to v$at at v$version")
        case "lake.changes" =>
          val from = math.max(first, version - 3)
          val got = ctx.op("lake.changes")(table.changes(from, version, "order_id")
            .select("order_id", "_change_type").collect()
            .map(r => r.getLong(0) -> r.getString(1)).toSet)
          ctx.expect(got == diff(snapshots(from), snapshots(version)),
            s"changes v$from..v$version: ${got.size} rows, expected " +
              diff(snapshots(from), snapshots(version)).size)
      }
    }
    val fin = rowsOf(open(root).read())
    ctx.expect(fin == modelRows(live.toMap), s"final table (${fin.size} rows) differs from the model")

    val lakeRoot = dir.resolve("lake")
    ctx.addBytes(IO.bytesUnder(lakeRoot), inputBytes)
    if (ctx.tracer.enabled) {
      ctx.note("lake.files_scanned_per_point_read", Stats.mean(scanned.toSeq))
      ctx.note("lake.prune_ratio", Stats.mean(pruned.toSeq))
      Lake.note(ctx, Seq(table, MergeTable(spark, s"$root/_tombstones")))
    }
  }
}

object CdcStream {
  val BaseRows = 2000
  /** Dates span 40 days: one lake partition per day. */
  val Days = 40
  val Base: LocalDate = LocalDate.of(2023, 1, 1)
  val FilesPerPass = 3
  val EventsPerFile = 40
  /** The reads after file `f`: cheap ones after every file, so each read
    * kind's median rests on several samples. */
  def readsAfter(f: Int): Seq[String] =
    Seq("lake.point_read", "lake.time_travel") ++ (if (f > 0) Seq("lake.changes") else Nil)

  val BaseSchema: StructType = StructType(Seq(
    StructField("order_id", LongType), StructField("user_id", StringType),
    StructField("order_timestamp", TimestampType), StructField("total_amount", DoubleType),
    StructField("date", DateType), StructField("seq", LongType)))
  val CdcSchema: StructType =
    StructType(StructField(MergeTable.ChangeType, StringType) +: BaseSchema.fields)
}
