package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum, xxhash64}
import org.apache.spark.sql.types._

import graft.Tables
import graft.ext.{DedupQueries, DocPipeline, Multimodal, SimilarityQueries, TextQueries}

/** LLM corpus curation: a seeded documents/embeddings corpus with known
  * exact duplicates, near duplicates and near-duplicate vectors, run
  * through heavy operators (curation pipeline, LSH near-dup, exact
  * similarity join, substring dedup, TF-IDF, semantic dedup, IVF search)
  * and light ones (exact dedup, packing, mixing, quality, media decode).
  * Each operator's result is materialized by one action on the driver:
  * the rows a check needs, or an order-independent digest. */
final class CorpusCurate(spark: SparkSession, seed: Long) extends Workload {
  import CorpusCurate._

  private var exactGroups: Map[Long, Long] = Map.empty
  private var nearPairs: Seq[(Long, Long)] = Nil
  private var vecPairs: Seq[(Long, Long)] = Nil
  private var nDocs = 0L
  private var inputBytes = 0L
  private val firstDigest = mutable.Map.empty[String, (Long, Long)]

  def opKinds: Set[String] = Layers.ExtOps.map(o => s"ext.$o").toSet

  def inputs: Map[String, Any] = Map("documents" -> nDocs, "embeddings" -> (Vectors + Dups),
    "files" -> 2, "bytes" -> inputBytes, "exact_dup_copies" -> exactGroups.values.map(_ - 1).sum,
    "near_dup_pairs" -> nearPairs.size, "near_dup_vector_pairs" -> vecPairs.size,
    "result_digests" -> firstDigest.map { case (op, (n, h)) => op -> Seq(n, h) })

  def summary(ctx: Ctx): Map[String, Double] = Map.empty

  def setup(ctx: Ctx, dir: Path): Unit =
    generate(dir, Docs, Vectors, Dups)

  /** Write `docs` generated documents plus `dups` exact-duplicate groups
    * and `dups` near-duplicate pairs, and `vectors` embeddings plus `dups`
    * near-duplicate vectors, recording what the checks expect. */
  private def generate(dir: Path, docs: Int, vectors: Int, dups: Int): Unit = {
    val rng = new SplittableRandom(seed)
    // The seed permutes word popularity, so each seed's corpus differs in
    // which shingles are frequent.
    val vocab = {
      val a = Words.toArray
      for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toSeq
    }
    def word(): String = vocab((vocab.size * math.pow(rng.nextDouble(), 1.6)).toInt)
    val texts = mutable.ArrayBuffer.empty[String]
    for (_ <- 0 until docs) texts += Seq.fill(20 + rng.nextInt(81))(word()).mkString(" ")
    val picked = mutable.LinkedHashSet.empty[Int]
    def pickDoc(minWords: Int): Int = {
      var i = rng.nextInt(docs)
      while (picked(i) || texts(i).count(_ == ' ') + 1 < minWords) i = rng.nextInt(docs)
      picked += i; i
    }
    val groups = mutable.Map.empty[Long, Long]
    for (g <- 0 until dups) {
      val i = pickDoc(0)
      val copies = 1 + g % 2
      for (_ <- 0 until copies) texts += texts(i)
      groups(i.toLong) = 1L + copies
    }
    val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
    for (_ <- 0 until dups) {
      val i = pickDoc(70)
      val toks = texts(i).split(' ')
      val at = toks.length / 2
      toks(at) = vocab.find(_ != toks(at)).get
      pairs += i.toLong -> texts.size.toLong
      texts += toks.mkString(" ")
    }
    exactGroups = groups.toMap; nearPairs = pairs.toSeq; nDocs = texts.size
    val langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
    val docRows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, langs(rng.nextInt(langs.size)), s"src${i % 10}", t.length.toLong)
    }

    val centers = Array.fill(Clusters, Dim)(rng.nextDouble() * 2 - 1)
    def gauss(): Double = {
      val u = math.max(rng.nextDouble(), 1e-12); val v = rng.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val vecs = mutable.ArrayBuffer.empty[(Array[Float], Int)]
    for (_ <- 0 until vectors) {
      val c = rng.nextInt(Clusters)
      vecs += ((Array.tabulate(Dim)(d => (0.4 * centers(c)(d) + gauss() / 2).toFloat), c))
    }
    val vp = mutable.ArrayBuffer.empty[(Long, Long)]
    val vpicked = mutable.Set.empty[Int]
    while (vp.size < dups) {
      val i = rng.nextInt(vectors)
      if (vpicked.add(i)) {
        val (v, c) = vecs(i)
        vp += i.toLong -> vecs.size.toLong
        vecs += ((v.map(x => (x + gauss() * 1e-3).toFloat), c))
      }
    }
    vecPairs = vp.toSeq
    val embs = vecs.zipWithIndex.map { case ((v, c), i) => Row(i.toLong, v.toSeq, c) }

    spark.createDataFrame(docRows.asJava, DocSchema).coalesce(1)
      .write.parquet(dir.resolve("documents.parquet").toString)
    spark.createDataFrame(embs.asJava, EmbSchema).coalesce(1)
      .write.parquet(dir.resolve("embeddings.parquet").toString)
    inputBytes = IO.bytesUnder(dir)
  }

  /** Count and order-independent hash sum of every row. */
  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(pmod(xxhash64(df.columns.map(col): _*), lit(Int.MaxValue.toLong)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The program's call for operator `op` over the corpus under `d`. */
  private def frame(op: String, d: String): DataFrame = op match {
    case "curate" => DocPipeline.curatedPacks(spark, d)
    case "neardup" => DedupQueries.docNeardup(spark, d)
    case "simjoin" => DedupQueries.docSimjoin(spark, d)
    case "substr_dedup" => DedupQueries.substrDedup(spark, d)
    case "tfidf" => TextQueries.textTfidf(spark, d)
    case "semdedup" => SimilarityQueries.embedSemdedup(spark, d)
    case "ivf" => SimilarityQueries.embedIvf(spark, d)
    case "dedup_exact" => DedupQueries.dedupExact(spark, d)
    case "doc_pack" => TextQueries.docPack(spark, d)
    case "doc_mix" => TextQueries.docMix(spark, d)
    case "quality" => TextQueries.textQuality(spark, d)
    case "media" => Multimodal.decoded(spark, Multimodal.mediaTable(Tables.documents(spark, d)))
  }

  /** Every operator once over a small corpus, untimed and unchecked: the
    * operators' code is JIT-compiled and their generated code cached
    * before the timed pass, whose cold-start jitter otherwise dominated
    * this workload's run-to-run spread. */
  override def warmup(dir: Path): Unit = {
    generate(dir, docs = 80, vectors = 40, dups = 4)
    for (op <- Layers.ExtOps) { digest(frame(op, dir.toString)); spark.catalog.clearCache() }
  }

  def run(ctx: Ctx, dir: Path): Unit = {
    val d = dir.toString
    def same(op: String, dg: (Long, Long)): Unit = {
      val first = firstDigest.getOrElseUpdate(op, dg)
      ctx.expect(dg == first, s"$op digest $dg differs from the first pass's $first")
    }
    def digestOp(op: String): Unit = {
      val dg = ctx.op(s"ext.$op")(digest(frame(op, d)))
      same(op, dg)
      spark.catalog.clearCache()
    }

    digestOp("curate")

    val pairs = ctx.op("ext.neardup")(frame("neardup", d)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val nearRecall = nearPairs.count(pairs.contains).toDouble / nearPairs.size
    ctx.expect(nearRecall >= MinRecall, s"near-dup recall $nearRecall < $MinRecall")
    same("neardup", (pairs.size.toLong, pairs.hashCode.toLong))
    ctx.note("ext.neardup_recall", nearRecall)
    spark.catalog.clearCache()

    digestOp("simjoin")
    digestOp("substr_dedup")
    digestOp("tfidf")

    val survivors = ctx.op("ext.semdedup")(frame("semdedup", d)
      .select("vec_id").collect().map(_.getLong(0)).toSet)
    val semRecall = vecPairs.count { case (a, b) => !survivors(a) || !survivors(b) }.toDouble /
      vecPairs.size
    ctx.expect(semRecall >= MinRecall, s"near-dup vector recall $semRecall < $MinRecall")
    same("semdedup", (survivors.size.toLong, survivors.hashCode.toLong))
    ctx.note("ext.semdedup_recall", semRecall)
    spark.catalog.clearCache()

    digestOp("ivf")

    val groups = ctx.op("ext.dedup_exact")(frame("dedup_exact", d)
      .select("canonical_id", "n_copies").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq)
    ctx.expect(groups.size == nDocs - exactGroups.values.map(_ - 1).sum &&
      groups.filter(_._2 > 1).toMap == exactGroups,
      s"exact dedup: ${groups.size} groups, ${groups.count(_._2 > 1)} with copies; expected " +
        s"${nDocs - exactGroups.values.map(_ - 1).sum} and ${exactGroups.size}")
    same("dedup_exact", (groups.size.toLong, groups.toSet.hashCode.toLong))
    spark.catalog.clearCache()

    digestOp("doc_pack")
    digestOp("doc_mix")
    digestOp("quality")
    digestOp("media")
  }
}

object CorpusCurate {
  val Docs = 300
  val Vectors = 150
  /** Exact-duplicate groups, near-duplicate pairs and near-duplicate
    * vectors injected, each. */
  val Dups = 20
  val Clusters = 10
  val Dim = 64
  /** Injected duplicates an operator must find. LSH near-dup detection
    * at the injected pairs' Jaccard (≈ 0.9) misses a pair with
    * probability under 1%. */
  val MinRecall = 0.9

  val Words: Seq[String] = Seq("the", "a", "and", "is", "of", "batch", "part", "spark",
    "line", "column", "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row", "table", "stream",
    "merge", "data", "customer", "join", "vector", "lake", "commit", "file", "shard",
    "token", "model", "train", "index", "cache", "plan", "stage", "task", "node", "disk",
    "page", "block", "log", "schema", "field", "record", "event", "queue", "topic",
    "offset", "replica", "leader", "quorum")

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))
}
