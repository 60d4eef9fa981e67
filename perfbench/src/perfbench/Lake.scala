package perfbench

import org.apache.spark.sql.functions.{coalesce, col, lit, sum}

import graft.lake.MergeTable

/** Lake-layer state read from outside the program at the end of a traced
  * pass: the tables' history and a scan of their directories. */
object Lake {
  private val MB = 1024.0 * 1024.0

  def note(ctx: Ctx, tables: Seq[MergeTable]): Unit = for (t <- tables) {
    val h = t.history().agg(coalesce(sum(col("n_added")), lit(0L)),
      coalesce(sum(col("n_removed")), lit(0L))).head()
    // a sidecar table under the root (CDC tombstones) is noted on its own
    val files = IO.filesUnder(t.root).map(t.root.relativize)
      .filterNot(_.startsWith("_tombstones"))
    val (log, data) = files.map(t.root.resolve).partition(p =>
      t.root.relativize(p).startsWith("_graft_log"))
    ctx.note("lake.commits", t.latestVersion().toDouble)
    ctx.note("lake.files_added", h.getLong(0).toDouble)
    ctx.note("lake.files_removed", h.getLong(1).toDouble)
    ctx.note("lake.live_files", t.read().inputFiles.length.toDouble)
    ctx.note("lake.data_mb", data.filter(_.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size).sum / MB)
    ctx.note("lake.log_mb", log.map(java.nio.file.Files.size).sum / MB)
    ctx.note("lake.log_files", log.size.toDouble)
    ctx.note("lake.checkpoints", log.map(p => t.root.resolve("_graft_log").relativize(p).getName(0))
      .distinct.count(_.toString.contains(".ckpt")).toDouble)
  }
}
