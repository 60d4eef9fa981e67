package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** The lake side of the paper in one cold JVM: the reference batch flow
  * ([[EtlBatch]]) and then its event-driven tail, per-file CDC ingest
  * with reads ([[CdcStream]]) on a table of its own. One workload rather
  * than two because every run pays a JVM start and a cold Spark: a second
  * workload would repeat that fixed cost in every run of a steadiness
  * check or an A/B. */
final class Lakehouse(spark: SparkSession, seed: Long) extends Workload {
  private val batch = new EtlBatch(spark, seed)
  private val stream = new CdcStream(spark, seed)

  def setup(ctx: Ctx, dir: Path): Unit = {
    batch.setup(ctx, dir.resolve("batch"))
    stream.setup(ctx, dir.resolve("stream"))
  }

  def run(ctx: Ctx, dir: Path): Unit = {
    batch.run(ctx, dir.resolve("batch"))
    ctx.phase("phase.stream")(stream.run(ctx, dir.resolve("stream")))
  }

  def summary(ctx: Ctx): Map[String, Double] = batch.summary(ctx) ++ stream.summary(ctx)

  def inputs: Map[String, Any] = Map("etl_batch" -> batch.inputs, "cdc_stream" -> stream.inputs)

  def opKinds: Set[String] = batch.opKinds ++ stream.opKinds
}
