package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Front-door parquet state: one `batch=<id>` partition per micro-batch
  * under a state root, the layout StreamNearDup, StreamNovelty,
  * StreamVecDedup and CleanCorpusStream keep their registers in.
  *
  * Replay safety: batch `id` reads only the partitions before its own and
  * overwrites only [[dir]]`(root, id)`, so a re-run batch rebuilds the
  * same register and never dedups against its own half-written state. */
object BatchState {

  /** The partition micro-batch `batchId` writes. */
  def dir(statePath: String, batchId: Long): String = s"$statePath/batch=$batchId"

  /** Every partition under `statePath` before `batchId`, with its `batch`
    * column; `None` when there is no state yet. The check is explicit, not
    * a broad AnalysisException catch: a corrupted state dir must fail the
    * batch loudly, not silently dedup against nothing. */
  def read(spark: SparkSession, statePath: String, batchId: Long): Option[DataFrame] =
    if (listing(spark, statePath).isEmpty) None
    else Some(spark.read.parquet(statePath).filter(col("batch") < batchId))

  /** (id, dir) of every partition under `statePath`, by id. */
  def partitions(spark: SparkSession, statePath: String): Seq[(Long, Path)] =
    listing(spark, statePath).flatMap { st =>
      st.getPath.getName.stripPrefix("batch=").toLongOption.map(_ -> st.getPath)
    }.sortBy(_._1)

  /** Delete the partitions whose id is `expired`, e.g. `_ < floor`. */
  def evict(spark: SparkSession, statePath: String)(expired: Long => Boolean): Unit = {
    val fs = fileSystem(spark, statePath)
    partitions(spark, statePath).foreach { case (id, p) =>
      if (expired(id)) fs.delete(p, true)
    }
  }

  private def fileSystem(spark: SparkSession, statePath: String): FileSystem =
    new Path(statePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listing(spark: SparkSession, statePath: String): Seq[FileStatus] = {
    val fs = fileSystem(spark, statePath)
    val root = new Path(statePath)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.getPath.getName.startsWith("batch="))
  }
}
