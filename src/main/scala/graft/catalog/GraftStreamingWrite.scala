package graft.catalog

import java.nio.file.Paths

import graft.sinks.{StagedFile, StagedWriter, TableLog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{
  DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** The NATIVE streaming sink: `df.writeStream.toTable("graft.ns.t")`.
  *
  * Each executor-side [[DataWriter]] writes ONE parquet file directly
  * (Spark's own writer stack via the bridge), opened LAZILY on the
  * first row so empty tasks leave no file; the epoch commit
  * ([[TableLog.commitStreamEpoch]]) manifests ONLY message-listed
  * files — a zombie or retried task's orphan can never land — derives
  * the table's property-declared stats over them, and commits ONE
  * append stamped `<queryId>#<epochId>`. Micro-batch replays after a
  * crash-restart find their txn in the manifest chain, delete their
  * duplicate files, and return the committed version: the same
  * exactly-once contract as `appendStream`, now through Spark's native
  * streaming write path instead of foreachBatch.
  *
  * Append output mode only — Complete would need per-epoch truncation
  * semantics this sink deliberately refuses (a streaming whole-table
  * replace per trigger is a history-churn anti-pattern on a commit-log
  * table; aggregate into a batch face instead). */
final class GraftStreamingWrite(path: String, props: Map[String, String],
    schema: StructType, queryId: String) extends StreamingWrite {

  /** One fresh id per StreamingWrite instance (= per query RUN): a
    * crash-restart replaying an already-committed epoch gets a new
    * run id, so its task files can NEVER collide with the names the
    * first run manifested — task-attempt ids alone don't guarantee
    * that across application restarts. Mirrors batch writes'
    * `data/<uuid>` set id. */
  private val runId = java.util.UUID.randomUUID().toString.take(8)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamWriterFactory(path, queryId, runId,
      GraftCatalog.stagedWriter(SparkSession.active, schema, props))

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    TableLog.commitStreamEpoch(SparkSession.active, path,
      messages.toSeq.collect { case GraftFileMessage(Some(f)) => f },
      txnId = s"$queryId#$epochId", writeSchema = Some(schema))
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftFileMessage(Some(f)) =>
        StagedWriter.drop(Paths.get(path, f.entry.path))
      case _ => ()
    }
}

/** A write task's staged file, or None for an empty task. */
final case class GraftFileMessage(staged: Option[StagedFile])
    extends WriterCommitMessage

object GraftFileMessage {
  /** The DataWriter over one staged-file task (batch and streaming). */
  private[catalog] def writer(f: StagedWriter#Task): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      override def write(r: InternalRow): Unit = f.write(r)
      override def commit(): WriterCommitMessage = GraftFileMessage(f.commit())
      override def abort(): Unit = f.abort()
      override def close(): Unit = ()
    }
}

/** Serializable; ships the driver-built staged writer to executors.
  * File names carry (run, epoch, partition, task-attempt): two
  * attempts of one partition never collide within a run, and the
  * per-run id keeps a restart's replay of an already-manifested epoch
  * from colliding with the first run's files. Losers stay
  * unmanifested. */
final class GraftStreamWriterFactory(tablePath: String, queryId: String,
    runId: String, w: StagedWriter)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    GraftFileMessage.writer(w.open(tablePath,
      f"data/stream-$queryId-e$epochId%06d/p$partitionId%05d-t$taskId-$runId.parquet",
      partitionId, (taskId & 0x7fffffffL).toInt))
}
