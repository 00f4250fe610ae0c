package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.sinks.TableLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger

import perfbench.Check.{Digest, Model}
import perfbench.Gen._
import perfbench.Trace.Tracer
import perfbench.Workload.{mean, timed}

/** How the benchmark table is written. */
object BenchTable {
  val statsCols = Seq("id", "pos")
  val bloomCols = Seq("sample")
  /** Files below this size are `compactSmall` candidates. */
  val smallBytes: Long = 64L << 10

  /** A client's batch: one file per commit, whatever the core count. */
  def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows).toDF(Check.tableCols: _*).coalesce(1)

  /** Apply one commit through the `TableLog` face that implements it. */
  def commit(spark: SparkSession, table: String, c: Commit): Unit = c match {
    case Append(rows) =>
      TableLog.append(spark, table, frame(spark, rows), statsCols,
        bloomStatsCols = bloomCols)
    case Merge(rows) =>
      TableLog.mergeCow(spark, table, frame(spark, rows), "id", statsCols,
        bloomStatsCols = bloomCols)
    case DeleteDv(lo, hi) =>
      TableLog.deleteDv(spark, table, col("id").between(lo, hi),
        statsCols = statsCols, bloomStatsCols = bloomCols)
    case UpdateDv(lo, hi, d) =>
      TableLog.updateDv(spark, table, col("id").between(lo, hi),
        Map("score" -> (col("score") + lit(d))), statsCols, bloomStatsCols = bloomCols)
    case DeleteMor(keys) =>
      import spark.implicits._
      TableLog.deleteMor(spark, table, "id", keys.toDF("id"))
    case Compact =>
      TableLog.compactSmall(spark, table, smallBytes, statsCols = statsCols,
        bloomStatsCols = bloomCols)
  }

  /** Create the table with the change-data feed on from version 1. */
  def create(spark: SparkSession, table: String, rows: Seq[Row]): Unit = {
    TableLog.enableCdcFeed(table)
    TableLog.create(spark, table, frame(spark, rows), statsCols,
      bloomStatsCols = bloomCols)
  }
}

/** One table kept current by a seeded commit stream and read by a seeded
  * read mix. Each round creates the table with the change-data feed on,
  * then
  *
  *  - commits: appends (with range and bloom stats) and `mergeCow`
  *    upserts, a `compactSmall`, and then both merge-on-read delete
  *    representations (`deleteDv`, `updateDv`, `deleteMor`) and one more
  *    append, crossing the checkpoint at version 10 and leaving deletion
  *    vectors and key sidecars pending: the write path's staged write,
  *    stats, manifest CAS and feed publish;
  *  - reads the result: manifest-pruned ranges (`readWhere`), bloom point
  *    lookups (`readWherePoint`), declarative `scan(...).where`, SQL
  *    through the catalog, time travel (`readVersion`), change ranges
  *    (`readChanges`) and one AvailableNow drain of `changeFeedStream`.
  *
  * `import_hub` uses none of this, so it is the control for table-format
  * changes; within this workload the per-layer metrics split the write
  * path from the read path. */
final class TableMix(spark: SparkSession, seed: Long, warehouse: Path, catalog: String)
    extends Workload {
  val initialRows = 10000
  val batch = 400
  /** Copy-on-write commits come first: `readChanges` is a file-level diff
    * and refuses intervals with merge-on-read deletes. */
  private val cowCommits =
    Gen.shuffled(seed, Seq("append" -> 4, "merge" -> 2)) :+ "compact"
  private val (initial, commits) = Gen.commits(seed, initialRows, cowCommits ++
    Gen.shuffled(seed + 1, Seq("delete_dv" -> 1, "update_dv" -> 1, "delete_mor" -> 1,
      "append" -> 1)), batch)
  private val keys = commits.foldLeft(initial.size.toLong) {
    case (n, Append(rs)) => math.max(n, rs.last.id + 1)
    case (n, Merge(rs)) => math.max(n, rs.last.id + 1)
    case (n, _) => n
  }

  private var rep = 0
  private var dir: Path = _
  private var table: String = _
  private var sqlName: String = _
  private var model: Model = _
  private val atVersion = mutable.HashMap[Long, Digest]()
  private var readOps: Vector[Read] = Vector.empty
  private var drains = 0
  // the traced round, per commit: files added, files removed, bytes
  // written, manifest bytes, feed bytes; per read: the read, rows,
  // files kept, live files; and every `TableLog.snapshot` time
  private val commitDisk = ArrayBuffer[(Int, Int, Long, Long, Long)]()
  private val readFiles = ArrayBuffer[(Read, Long, Int, Int)]()
  private val snapshotMs = ArrayBuffer[Double]()

  def setup(d: Path): Unit = {
    // each round's table lives in a catalog namespace of its own
    Disk.delete(warehouse.resolve(s"r$rep"))
    rep += 1
    dir = d
    table = warehouse.resolve(s"r$rep").resolve("muts").toString
    sqlName = s"$catalog.r$rep.muts"
    BenchTable.create(spark, table, initial)
    model = new Model(initial)
    atVersion.clear()
    atVersion(TableLog.latestVersion(table)) = model.digest
  }

  private def timeSnapshot(t: Tracer, i: Int): TableLog.Snapshot = {
    val t0 = System.nanoTime()
    val s = t.span("sinks.TableLog.snapshot", i)(TableLog.snapshot(table)).get
    snapshotMs += (System.nanoTime() - t0) / 1e6
    s
  }

  def round(t: Tracer): Round = {
    val lat = ArrayBuffer[(String, Double)]()
    val failures = ArrayBuffer[String]()
    commitDisk.clear(); readFiles.clear(); snapshotMs.clear()
    var cowVersion = 0L
    commits.zipWithIndex.foreach { case (c, i) =>
      val before = if (t.enabled) Disk.files(Paths.get(table)) else Vector.empty
      val live = if (t.enabled) TableLog.snapshot(table).get.files.map(_.path).toSet
                 else Set.empty[String]
      timed(s"commit.${c.kind}", lat, failures) {
        t.span(s"commit.${c.kind}", i)(BenchTable.commit(spark, table, c))
      }
      model(c)
      atVersion(TableLog.latestVersion(table)) = model.digest
      if (i == cowCommits.size - 1) cowVersion = TableLog.latestVersion(table)
      if (t.enabled) {
        val snap = timeSnapshot(t, i)
        val seen = before.map(_.inode).toSet
        val added = Disk.files(Paths.get(table)).filterNot(f => seen(f.inode))
        def under(d: String) = added.filter(_.path.toString.contains(s"/$d/"))
        val data = added.filterNot(f => Seq("_log", "_feed").exists(d =>
          f.path.toString.contains(s"/$d/")))
        commitDisk += ((data.size, (live -- snap.files.map(_.path)).size,
          Disk.bytes(added), Disk.bytes(under("_log")), Disk.bytes(under("_feed"))))
      }
    }
    readOps = Gen.reads(seed, initialRows, keys, TableLog.latestVersion(table), cowVersion)
    readOps.zipWithIndex.foreach { case (r, i) =>
      var got = Check.empty
      timed(s"read.${r.kind}", lat, failures) {
        t.span(s"read.${r.kind}", i) {
          got = r match {
            case DrainRead => t.span("streaming.changeFeedStream", i)(drain())
            case ChangesRead(a, b) =>
              val (added, removed) = TableLog.readChanges(spark, table, a, b)
              Check.tableDigest(added) - Check.tableDigest(removed)
            case _ => Check.tableDigest(frame(r))
          }
        }
      }
      val want = r match {
        case DrainRead => Some(model.digest)
        case VersionRead(v) => atVersion.get(v)
        case ChangesRead(a, b) => for (x <- atVersion.get(a); y <- atVersion.get(b)) yield y - x
        case _ => Some(Check.digestOf(model.rows.values.filter(matches(r))))
      }
      if (!want.contains(got)) failures += s"$r: $got, expected $want"
      if (t.enabled) {
        val liveFiles = timeSnapshot(t, i).files.size
        val kept = r match {
          case RangeRead(lo, hi) => TableLog.prunedFiles(table, "id", lo, hi).size
          case PointRead(s) => TableLog.prunedFilesPoint(spark, table, "sample", s).size
          case ScanRead(_, _) | SqlRead(_, _, _) => frame(r).inputFiles.length
          case _ => liveFiles
        }
        readFiles += ((r, got.rows, kept, liveFiles))
      }
    }
    Round(lat.toVector, failures.toVector)
  }

  /** The filter a latest-version read applies, on model rows. */
  private def matches(r: Read)(x: Row): Boolean = r match {
    case RangeRead(lo, hi) => x.id >= lo && x.id <= hi
    case PointRead(s) => x.sample == s
    case ScanRead(lo, hi) => x.pos >= lo && x.pos <= hi
    case SqlRead(lo, hi, ms) => x.id >= lo && x.id <= hi && x.score >= ms
    case other => throw new IllegalArgumentException(s"$other has no row filter")
  }

  private def frame(r: Read): DataFrame = r match {
    case RangeRead(lo, hi) => TableLog.readWhere(spark, table, "id", lo, hi)
    case PointRead(s) => TableLog.readWherePoint(spark, table, "sample", s)
    case ScanRead(lo, hi) => TableLog.scan(spark, table).where(col("pos").between(lo, hi))
    case SqlRead(lo, hi, ms) => spark.sql(s"SELECT ${Check.tableCols.mkString(", ")} " +
      s"FROM $sqlName WHERE id BETWEEN $lo AND $hi AND score >= $ms")
    case VersionRead(v) => TableLog.readVersion(spark, table, v)
    case other => throw new IllegalArgumentException(s"$other is not a frame read")
  }

  /** Drain the change feed once with an AvailableNow trigger; returns the
    * net effect (inserts minus deletes) of everything it delivered. */
  private def drain(): Digest = {
    drains += 1
    var net = Check.empty
    val q = TableLog.changeFeedStream(spark, table).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", dir.resolve(s"drain-$drains").toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val kind = col(TableLog.changeTypeCol)
        net = net + Check.tableDigest(df.where(kind === "insert")) -
          Check.tableDigest(df.where(kind === "delete"))
      }.start()
    q.awaitTermination()
    net
  }

  def check(): Vector[String] = {
    val got = Check.tableDigest(TableLog.read(spark, table))
    val want = model.digest
    val rows = TableLog.snapshot(table).get.rows
    Vector(
      Option.when(got != want)(s"final snapshot $got, model $want"),
      Option.when(rows != want.rows)(s"manifest rows $rows, model ${want.rows}")
    ).flatten
  }

  def storageAmp: Double =
    Disk.bytes(Disk.files(Paths.get(table))).toDouble / model.userBytes

  def inputs: Map[String, Any] = Map("initial_rows" -> initialRows,
    "batch_rows" -> batch, "commits" -> commits.size,
    "commit_mix" -> commits.groupBy(_.kind).view.mapValues(_.size).toMap,
    "versions" -> TableLog.latestVersion(table), "reads" -> readOps.size,
    "read_mix" -> readOps.groupBy(_.kind).view.mapValues(_.size).toMap)

  def layers(t: Tracer): Map[String, Double] = {
    val top = t.all.filter(_.parent < 0)
    val commitSpans = top.filter(_.name.startsWith("commit."))
    val perKind = Gen.commitKinds.flatMap { k =>
      val ss = commitSpans.filter(_.name == s"commit.$k")
      val ws = ss.map(t.work)
      Seq(s"commit.$k.jobs" -> mean(ws.map(_.jobs.toDouble)),
        s"commit.$k.tasks" -> mean(ws.map(_.tasks.toDouble)),
        s"commit.$k.ms" -> mean(ss.map(t.wallMs(_).toDouble)))
    }
    val readSpans = top.filter(_.name.startsWith("read."))
    val readKinds = Gen.readKinds.map { k =>
      s"read.$k.ms" -> mean(readSpans.filter(_.name == s"read.$k").map(t.wallMs(_).toDouble))
    }
    val rw = readSpans.map(t.work)
    val pruned = readFiles.filter(x => x._1 match {
      case RangeRead(_, _) | PointRead(_) | ScanRead(_, _) | SqlRead(_, _, _) => true
      case _ => false
    })
    val drain = readSpans.filter(_.name == "read.drain")
    (perKind ++ readKinds).toMap ++ Map(
      "commit.driver_gap_frac" ->
        commitSpans.map(t.gapMs).sum.toDouble / commitSpans.map(t.wallMs).sum,
      "commit.files_added" -> mean(commitDisk.map(_._1.toDouble)),
      "commit.files_removed" -> mean(commitDisk.map(_._2.toDouble)),
      "commit.bytes_written" -> mean(commitDisk.map(_._3.toDouble)),
      "log.manifest_bytes" -> mean(commitDisk.map(_._4.toDouble)),
      "feed.bytes_per_commit" -> mean(commitDisk.map(_._5.toDouble)),
      "log.snapshot_ms" -> mean(snapshotMs),
      "read.jobs_per_op" -> mean(rw.map(_.jobs.toDouble)),
      "read.tasks_per_op" -> mean(rw.map(_.tasks.toDouble)),
      "scan.files_kept_frac" -> pruned.map(_._3).sum.toDouble / pruned.map(_._4).sum,
      "scan.input_records_per_row" ->
        rw.map(_.inputRecords).sum.toDouble / math.max(readFiles.map(_._2).sum, 1L),
      "feed.drain_ms" -> mean(drain.map(t.wallMs(_).toDouble)),
      "feed.drain_jobs" -> mean(drain.map(t.work(_).jobs.toDouble)))
  }
}
