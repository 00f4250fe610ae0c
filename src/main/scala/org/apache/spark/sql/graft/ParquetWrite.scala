package org.apache.spark.sql.graft

import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Executor-side single-file parquet writing over Spark's OWN writer
  * stack (`ParquetOutputWriter`/`ParquetWriteSupport`, both
  * private[sql] — hence this package): `graft.sinks.StagedWriter`, the
  * one caller, writes one file per task directly, outside
  * `FileFormatWriter`, and the commit manifests them. Bytes are
  * identical to a batch write: same write support, same
  * session-resolved SQL conf (legacy-format/timestamp-type keys ride
  * in `newHadoopConf`), snappy like every sink in this engine. */
trait RowFileWriter {
  def write(row: InternalRow): Unit
  def close(): Unit
}

final class ParquetWriteFactory(conf: SerializableConfiguration)
    extends Serializable {
  def open(absPath: String, partitionId: Int, attempt: Int): RowFileWriter = {
    val c = new org.apache.hadoop.conf.Configuration(conf.value)
    val tid = new TaskAttemptID(
      new TaskID(new JobID("graft-stream", 0), TaskType.MAP, partitionId),
      attempt)
    val ctx = new TaskAttemptContextImpl(c, tid)
    val w = new ParquetOutputWriter(absPath, ctx)
    new RowFileWriter {
      override def write(row: InternalRow): Unit = w.write(row)
      override def close(): Unit = w.close()
    }
  }
}

object ParquetWrite {
  /** Build a task-shippable writer factory on the DRIVER: captures the
    * session's Hadoop+SQL configuration once (ParquetWriteSupport.init
    * reads the SQL keys from it) and binds the write schema. */
  def factory(spark: SparkSession, schema: StructType): ParquetWriteFactory = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = spark.sessionState.newHadoopConf()
    val sqlConf = spark.sessionState.conf
    ParquetWriteSupport.setSchema(schema, conf)
    // the keys ParquetFileFormat.prepareWrite stamps explicitly —
    // newHadoopConf embeds only EXPLICITLY-SET SQL confs, and
    // ParquetWriteSupport.init asserts on the rebase modes
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
        .toString)
    conf.set(org.apache.parquet.hadoop.ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[ParquetWriteSupport].getName)
    conf.set(org.apache.parquet.hadoop.ParquetOutputFormat.COMPRESSION,
      "SNAPPY")
    new ParquetWriteFactory(new SerializableConfiguration(conf))
  }
}
