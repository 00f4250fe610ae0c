package graft.sinks

import java.nio.file.{Files, Path, Paths}

import graft.sinks.TableLog.{FileEntry, FileStat, FileStrStat}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSeq,
  BindReferences, CommonExpressionRef, Expression, RuntimeReplaceable,
  UnsafeProjection, With}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graft.{Bridge, ParquetWrite, ParquetWriteFactory,
  RowFileWriter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** One staged file as its writer task finished it: the manifest entry
  * and each audit's violation count. */
final case class StagedFile(entry: FileEntry, violations: Seq[Long])

/** The ONE executor-side write loop behind every staged data file —
  * batch commits, the catalog's ReplaceData and WriteDelta writers
  * (both shards) and the streaming sink. A task's file is opened
  * lazily on its first row (an empty task leaves no file), and every
  * row it writes is folded through one `UnsafeProjection` whose
  * Catalyst expressions were resolved once on the driver against the
  * write schema:
  * {{{
  *   [cast(c as long) per long stat, then per derived stat]
  *   [isnotnull(c) per long stat]
  *   [cast(c as string) per string stat]
  *   [bad per audit]
  *   [k bloom positions per bloom column]
  * }}}
  * Per-file min/max, non-null counts, violation counts and bloom
  * bitsets are mergeable summaries, so this one pass is exact: the
  * file's finished [[TableLog.FileEntry]] — rows, bytes of the closed
  * file, ranges (an all-null column gets none), null counts (long
  * stats only; derived stats keep the unknown −1), string ranges in
  * UTF-8 binary order, and blooms (omitted once saturated) — travels
  * back as the task result or in the commit message, and no commit
  * re-reads what it just wrote. */
final class StagedWriter private (pw: ParquetWriteFactory,
    longCols: Seq[String], derived: Seq[String], strCols: Seq[String],
    audits: Int, bloomCols: Seq[String], exprs: Seq[Expression])
    extends Serializable {

  /** The task's file `<table>/<rel>`. */
  def open(table: String, rel: String, partitionId: Int,
      attempt: Int): Task = new Task(table, rel, partitionId, attempt)

  final class Task private[StagedWriter] (table: String, rel: String,
      partitionId: Int, attempt: Int) {
    private val nLong = longCols.size + derived.size
    private val lMin = Array.fill(nLong)(Long.MaxValue)
    private val lMax = Array.fill(nLong)(Long.MinValue)
    private val nonNull = new Array[Long](longCols.size)
    private val sMin = new Array[UTF8String](strCols.size)
    private val sMax = new Array[UTF8String](strCols.size)
    private val bad = new Array[Long](audits)
    private val bits =
      Array.fill(bloomCols.size)(new java.util.BitSet(TableLog.bloomM))
    private var rows = 0L
    private var out: RowFileWriter = null
    private lazy val proj = {
      val p = UnsafeProjection.create(exprs)
      p.initialize(partitionId)
      p
    }

    def write(row: InternalRow): Unit = {
      if (out == null) {
        Files.createDirectories(Paths.get(table, rel).getParent)
        out = pw.open(s"$table/$rel", partitionId, attempt)
      }
      out.write(row)
      rows += 1
      if (exprs.nonEmpty) fold(proj(row))
    }

    private def fold(r: InternalRow): Unit = {
      var i = 0
      while (i < nLong) {
        if (!r.isNullAt(i)) {
          val v = r.getLong(i)
          if (v < lMin(i)) lMin(i) = v
          if (v > lMax(i)) lMax(i) = v
        }
        i += 1
      }
      var o = nLong
      i = 0
      while (i < nonNull.length) {
        if (r.getBoolean(o + i)) nonNull(i) += 1
        i += 1
      }
      o += nonNull.length
      i = 0
      while (i < sMin.length) {
        if (!r.isNullAt(o + i)) {
          val s = r.getUTF8String(o + i)
          if (sMin(i) == null || s.binaryCompare(sMin(i)) < 0)
            sMin(i) = s.clone()
          if (sMax(i) == null || s.binaryCompare(sMax(i)) > 0)
            sMax(i) = s.clone()
        }
        i += 1
      }
      o += sMin.length
      i = 0
      while (i < bad.length) {
        if (!r.isNullAt(o + i) && r.getBoolean(o + i)) bad(i) += 1
        i += 1
      }
      o += bad.length
      i = 0
      while (i < bits.length * TableLog.bloomK) {
        if (!r.isNullAt(o + i))
          bits(i / TableLog.bloomK).set(r.getInt(o + i))
        i += 1
      }
    }

    /** Close the file and finish its entry; None for an empty task. */
    def commit(): Option[StagedFile] =
      if (out == null) None
      else {
        out.close()
        def range(i: Int) = lMin(i) <= lMax(i)
        val stats = longCols.indices.collect { case i if range(i) =>
          FileStat(longCols(i), lMin(i), lMax(i), rows - nonNull(i))
        } ++ derived.indices.collect {
          case j if range(longCols.size + j) =>
            FileStat(derived(j), lMin(longCols.size + j),
              lMax(longCols.size + j))
        }
        val strStats = strCols.indices.collect { case i if sMin(i) != null =>
          FileStrStat(strCols(i), sMin(i).toString, sMax(i).toString)
        } ++ bloomCols.indices.collect { case i
            if bits(i).cardinality.toDouble / TableLog.bloomM <=
              TableLog.bloomMaxFill =>
          TableLog.bloomStat(bloomCols(i), bits(i))
        }
        Some(StagedFile(FileEntry(rel, stats, strStats,
          bytes = try Files.size(Paths.get(table, rel))
            catch { case _: java.io.IOException => -1L },
          rows = rows), bad.toSeq))
      }

    /** Close and delete whatever this task staged. */
    def abort(): Unit = if (out != null) {
      try out.close() catch { case _: Throwable => () }
      StagedWriter.drop(Paths.get(table, rel))
    }
  }
}

object StagedWriter {

  /** Build on the DRIVER: resolve every stat, audit and bloom
    * expression against `schema` once and bind it to the written row. */
  def apply(spark: SparkSession, schema: StructType,
      statsCols: Seq[String] = Nil, strStatsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      derivedStats: Seq[(String, Column)] = Nil,
      audits: Seq[Column] = Nil): StagedWriter = {
    import org.apache.spark.sql.functions.col
    val cols = statsCols.map(c => col(c).cast("long")) ++
      derivedStats.map(_._2.cast("long")) ++
      statsCols.map(col(_).isNotNull) ++
      strStatsCols.map(c => col(c).cast("string")) ++ audits ++
      bloomCols.flatMap(c => TableLog.bloomHashes(Bridge.expression(col(c)),
        TableLog.bloomM, TableLog.bloomK).map(Bridge.column))
    val attrs = DataTypeUtils.toAttributes(schema)
    val exprs =
      if (cols.isEmpty) Nil
      else Bridge.ofRows(spark, LocalRelation(attrs)).select(cols: _*)
        .queryExecution.analyzed match {
        case Project(list, _) => BindReferences.bindReferences(
          list.map {
            case a: Alias => evaluable(a.child)
            case x => evaluable(x)
          }, AttributeSeq(attrs))
        case p => sys.error(s"staged stats did not resolve to a projection: $p")
      }
    new StagedWriter(ParquetWrite.factory(spark, schema), statsCols,
      derivedStats.map(_._1), strStatsCols, audits.size, bloomCols, exprs)
  }

  /** What the optimizer does to an analyzed expression before it can
    * run: every runtime-replaceable node (BETWEEN, NULLIF, …) becomes
    * its replacement, also when that is itself replaceable, and every
    * `With` the replacements introduce has its common expressions
    * inlined into their references. */
  private def evaluable(e: Expression): Expression = e.transformDown {
    case r: RuntimeReplaceable => evaluable(r.replacement)
    case With(child, defs) =>
      val byId = defs.map(d => d.id -> d.child).toMap
      evaluable(child.transform {
        case r: CommonExpressionRef if byId.contains(r.id) => byId(r.id)
      })
  }

  /** Delete a staged file and its `.crc` sibling. */
  private[graft] def drop(p: Path): Unit = {
    Files.deleteIfExists(p)
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    ()
  }
}
