package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, concat_ws, count, crc32, lit, sum}

import perfbench.Gen._

/** Output checks. A result is summarised as (row count, checksum), where
  * the checksum is the sum of CRC-32s of each row's `|`-joined text: the
  * same number whether Spark or plain Scala computes it, and independent
  * of row order. */
object Check {

  final case class Digest(rows: Long, sum: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
    def -(o: Digest): Digest = Digest(rows - o.rows, sum - o.sum)
  }
  val empty: Digest = Digest(0L, 0L)

  def crc(text: String): Long = {
    val c = new CRC32
    c.update(text.getBytes(UTF_8))
    c.getValue
  }

  /** Digest of `df` over `cols` (default: all of them, in order). */
  def digest(df: DataFrame, cols: Seq[String] = Nil): Digest = {
    val cs = if (cols.isEmpty) df.columns.toSeq else cols
    val text = concat_ws("|", cs.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(crc32(text)), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }

  val tableCols: Seq[String] = Seq("id", "gene", "sample", "pos", "score")

  def tableDigest(df: DataFrame): Digest = digest(df, tableCols)

  def digestOf(rows: Iterable[Row]): Digest =
    rows.foldLeft(empty)((d, r) => Digest(d.rows + 1, d.sum + crc(r.text)))

  /** A pure-Scala model of the benchmark table: what every commit kind
    * must do to the set of live rows. */
  final class Model(initial: Seq[Row]) {
    val rows: scala.collection.mutable.HashMap[Long, Row] =
      scala.collection.mutable.HashMap.from(initial.map(r => r.id -> r))

    def apply(c: Commit): Unit = c match {
      case Append(rs) => rs.foreach(r => rows(r.id) = r)
      case Merge(rs) => rs.foreach(r => rows(r.id) = r)
      case DeleteDv(lo, hi) => (lo to hi).foreach(rows.remove)
      case UpdateDv(lo, hi, d) => (lo to hi).foreach(k =>
        rows.get(k).foreach(r => rows(k) = r.copy(score = r.score + d)))
      case DeleteMor(keys) => keys.foreach(rows.remove)
      case Compact => ()
    }

    def digest: Digest = digestOf(rows.values)

    /** Bytes of the live rows as tab-separated text: the user data the
      * table holds, the denominator of storage amplification. */
    def userBytes: Long = rows.values.iterator
      .map(r => r.text.getBytes(UTF_8).length.toLong).sum
  }
}
