package graft.sinks

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Minimal commit-log table format — the durability layer StagedCommit's
  * writer lease cannot provide (the lease narrows the multi-writer race
  * to lock-file create-exclusivity and fails the loser; the LOG lets
  * every writer succeed, serializably).
  *
  * Layout:
  * {{{
  *   <table>/data/<uuid>/part-*.parquet   immutable data files
  *   <table>/_log/v00000001.manifest      immutable versioned manifests
  * }}}
  *
  * A manifest is either a CHECKPOINT (`kind=full`: the complete file
  * list at its version — v1, every rewrite, and every
  * `checkpointInterval`-th append) or a DELTA (`kind=delta`: only the
  * files added/removed vs version−1). Both carry the version's row
  * count, action, txn id, and schema. An append therefore writes
  * O(appended files), NOT O(table files) — at millions of files a
  * full-snapshot-per-commit log would spend every commit rewriting a
  * multi-GB manifest; here that cost is paid once per
  * `checkpointInterval`, and snapshot resolution replays at most
  * `checkpointInterval − 1` deltas on top of the nearest checkpoint
  * (the same delta-log + periodic-checkpoint shape Delta Lake and
  * Iceberg use). Commit is a single atomic create-exclusive
  * operation: the manifest is fully written to a temp file, then
  * HARD-LINKED to its final `v<N>.manifest` name — link(2) fails with
  * EEXIST atomically, so the winner's manifest appears complete or not
  * at all (no reader ever observes a half-written manifest, unlike a
  * create-then-write protocol), and the loser gets a clean CAS conflict.
  * On an object store the equivalent primitive is a conditional PUT
  * (if-none-match); on HDFS, create-exclusive + rename.
  *
  * Concurrency = optimistic CAS through ONE commit path, the private
  * `commit` combinator every write face calls: it reads the latest
  * version N, lets the face state its change against N, decides
  * checkpoint vs delta, and tries to commit N+1; if another writer got
  * there first, it re-reads the new snapshot and the face RECOMPUTES
  * (append just re-unions the file list — its already-written data
  * files are reused; rewrite re-runs its transform against the new
  * base) before the next try. Readers never block and never see partial
  * state: uncommitted data files are invisible because reads scan
  * exactly the files the chosen manifest lists.
  *
  * Crash anywhere leaves only invisible garbage (orphan data dirs, temp
  * manifests) that `vacuum` reclaims; there is no recover() step and no
  * swap window — the published table is never renamed, only pointed to.
  *
  * At 100 TB the protocol costs one small manifest write per commit and
  * a directory listing per snapshot read; data file paths are listed in
  * the manifest, so readers skip the eventually-consistent-listing
  * hazards of directory scans entirely. Old versions remain readable
  * (`readVersion`) until vacuumed — time travel for free.
  */
object TableLog {

  private val logger = org.slf4j.LoggerFactory.getLogger("graft.TableLog")

  /** Per-file column range, LONG-typed (the engine's integer-first
    * convention: keys, micro-scores, epoch-micros all live in long
    * space). Stats prune IO, never semantics — `readWhere` keeps any
    * file whose range overlaps (or that has no stat for the column)
    * and still applies the residual filter.
    *
    * `nulls`: the column's NULL count in this file (−1 on legacy
    * entries = unknown). Ranges alone can only prove a file has NO
    * matching row (disjointness); proving EVERY row matches — the
    * metadata-only DELETE's requirement — additionally needs "no
    * nulls" (SQL predicates are not-satisfied on NULL, so one
    * uncounted null row would be wrongly dropped with its file). */
  final case class FileStat(col: String, min: Long, max: Long,
      nulls: Long = -1L)
  /** Per-file STRING range, for categorical skipping (partition-style
    * pruning without a partition layout: pair with a
    * `repartitionByRange` write so each file covers a tight value
    * range). Values are URL-encoded in the manifest, so any string —
    * including ';'/':' — round-trips. */
  final case class FileStrStat(col: String, min: String, max: String)
  /** `ver`: the version this file was ADDED at (0 on legacy entries) —
    * the fence that scopes merge-on-read deletes: a delete entry
    * committed at version D applies to a file iff `ver < D` (the file
    * existed when the delete landed); rows appended later under the
    * same key are NOT deleted. Carried inline in the manifest entry,
    * so resolution preserves it through checkpoints and deltas.
    *
    * `bytes`: the file's on-disk size, recorded at WRITE time (−1 on
    * legacy entries). Everything that needs table footprint — the
    * declarative relation's `computeStats` (which gates the dynamic
    * join prune), `detail`, `compact`/`compactSmall` sizing — sums
    * this from the manifest instead of stat-ing every data file on
    * the driver: at 100 TB a per-plan O(files) stat storm is millions
    * of object-store metadata RPCs before a single task launches.
    * Legacy entries fall back to a counted filesystem stat
    * (`fileBytes`).
    *
    * `rows`: the file's row count, recorded at WRITE time (−1 on
    * legacy entries) — the metadata-only DELETE's accounting source
    * (dropping a whole file must adjust the manifest's exact `rows`
    * without reading the file) and, at 100 TB, the difference between
    * a manifest lookup and a footer RPC per file for any row-count
    * question. */
  final case class FileEntry(path: String, stats: Seq[FileStat],
      strStats: Seq[FileStrStat] = Nil, ver: Long = 0L,
      bytes: Long = -1L, rows: Long = -1L)

  /** Manifest-first file size: the write-time `bytes` when carried,
    * else one counted stat (legacy pre-bytes entries; a vanished path
    * reads 0). `statFallbacks` makes "zero filesystem calls at
    * planning" spec-pinnable. */
  private[graft] val statFallbacks =
    new java.util.concurrent.atomic.AtomicLong

  /** Planned MOR-scan file reads (test observability, same role as
    * `statFallbacks`): every data file handed to `morScan` counts once
    * at PLAN time, so "this write face reads each affected file's
    * data exactly ONCE" is spec-pinnable as a counter delta. */
  private[graft] val morFilesPlanned =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] def fileBytes(table: String, f: FileEntry): Long =
    if (f.bytes >= 0) f.bytes
    else {
      statFallbacks.incrementAndGet()
      try Files.size(Paths.get(table, f.path))
      catch { case _: java.io.IOException => 0L }
    }

  /** A merge-on-read DELETE sidecar: a small parquet of deleted keys
    * (single column named `keyCol`), committed at version `ver` with
    * ZERO data-file rewrites. Applied at read as an anti-join against
    * every data file older than `ver`; materialized away by any full
    * rewrite (`compact`/`zOrder`/`rewrite`), whose output files are
    * newer than every delete and whose manifest carries none. The
    * sidecar lives under `<table>/data/` like any data file — written
    * through `writeDataFiles`, vacuum-protected while referenced. */
  final case class DeleteEntry(file: FileEntry, keyCol: String, ver: Long)

  /** A schema-evolution op beyond the additive lattice: a column
    * RENAME (`kind="rename"`, col → to) or DROP (`kind="drop"`),
    * committed at version `ver` as PURE METADATA — no data file is
    * ever rewritten. Data files keep their physical column names; at
    * read time each file resolves a logical column to its physical
    * name by inverse-applying the ops committed AFTER the file was
    * written (newest first), and a DROP hit along the way means the
    * file's physical column belongs to a dead incarnation — read as
    * null, never resurrected (the hazard of by-name parquet reads
    * that Iceberg solves with column ids; here the `ver` fence + op
    * log solve it). The full op history rides in every manifest
    * (folded at the commit gate, like the txn index), so resolution
    * never needs vacuumed manifests. */
  final case class SchemaOp(ver: Long, kind: String, col: String,
      to: String)
  /** `txn`: writer-supplied transaction id recorded in the manifest —
    * the idempotence token for streaming ingest (a replayed micro-batch
    * finds its id already committed and skips). */
  /** `schemaJson`: the table schema AT THIS VERSION (compact Spark
    * StructType json), recorded in the manifest so readers apply it
    * without crawling file footers — at 100 TB, "what is the schema"
    * must be a manifest lookup, not a million-footer merge. Appends
    * may EVOLVE it (add nullable columns / omit existing ones — see
    * `mergeEvolved`); each historical version keeps its own schema, so
    * time travel reads old data under the old schema. Absent on
    * legacy manifests → reads fall back to footer inference. */
  /** `counters`: application-defined CUMULATIVE counters, carried in every
    * manifest like `rows` (e.g. the dedup index's distinct-doc count).
    * Appends add a delta inside the commit CAS loop, so the accounting is
    * atomic with the version it describes and concurrency-correct; reading
    * a counter is a manifest lookup, never a table scan — the difference
    * between O(1) and O(corpus) per batch at 100 TB. Rewrites preserve
    * them verbatim (content-changing rewrites that invalidate a counter
    * own fixing it). */
  /** `checks`: the CURRENT set of named CHECK constraints (name →
    * boolean SQL expression) — write-path data-quality gates enforced
    * on every row-adding commit. Carried complete in every manifest
    * (folded at the commit gate), so enforcement is a manifest lookup.
    * SQL semantics: a row violates only when the expression evaluates
    * to FALSE — NULL passes, exactly like SQL CHECK. */
  final case class Snapshot(version: Long, baseVersion: Long, action: String,
      rows: Long, files: Seq[FileEntry], txn: Option[String] = None,
      schemaJson: Option[String] = None,
      counters: Map[String, Long] = Map.empty,
      dels: Seq[DeleteEntry] = Nil,
      schemaOps: Seq[SchemaOp] = Nil,
      checks: Seq[(String, String)] = Nil)

  /** Full checkpoint every Nth append: snapshot resolution replays at
    * most N−1 deltas; commit cost is amortized O(table files / N +
    * changed files). Delta Lake's default is 10 commits per checkpoint
    * for the same trade. */
  private[graft] val checkpointInterval = 10L

  /** One parsed manifest, pre-resolution: `kind` "full" (complete file
    * list in `files`; legacy manifests with no kind key read as full)
    * or "delta" (`adds` entries + `removes` paths vs version−1). */
  /** `txnHw`/`txnComplete`: the txn high-water index — per STREAM (the
    * prefix of a structured `<stream>#<n>` / `mv@<n>` txn id), the
    * highest committed sequence and its version, carried DENORMALIZED
    * in every manifest like `rows`, so `committedTxnVersion` is one
    * manifest read instead of an O(versions) reverse scan (on the
    * 100k-commit ingest history the log advertises, that was ~200k
    * manifest parses per micro-batch — per APPEND, since the append
    * path checks twice). Bounded by distinct streams, not versions.
    * `txnComplete` marks an unbroken stamped chain back to v1: only
    * then is the map authoritative for "not committed" — a table with
    * pre-index commits falls back to the scan, never misreports. */
  /** `dels`/`delAdds`: merge-on-read delete sidecars — full manifests
    * carry the COMPLETE delete set at their version (possibly empty =
    * materialized), deltas carry only this commit's additions. NO
    * DEFAULTS on purpose: every manifest-construction site must state
    * what happens to pending deletes (carry, add, or materialize) —
    * a site that silently dropped them would resurrect deleted rows. */
  private final case class ManifestRec(version: Long, baseVersion: Long,
      action: String, rows: Long, kind: String, files: Seq[FileEntry],
      adds: Seq[FileEntry], removes: Seq[String],
      dels: Seq[DeleteEntry], delAdds: Seq[DeleteEntry],
      txn: Option[String], schemaJson: Option[String],
      counters: Map[String, Long] = Map.empty,
      tsMs: Long = 0L,
      txnHw: Map[String, (Long, Long)] = Map.empty,
      txnComplete: Boolean = false,
      schemaOps: Seq[SchemaOp] = Nil,
      // CHECK constraints: ckAdd/ckDrop are THIS commit's delta; the
      // gate folds them into `checks`, the complete current set
      ckAdd: Option[(String, String)] = None,
      ckDrop: Option[String] = None,
      checks: Seq[(String, String)] = Nil)

  /** Split a structured txn id into (stream prefix, sequence):
    * `ingest#42` → ("ingest#", 42), `mv@17` → ("mv@", 17). Opaque ids
    * (no trailing number after '#'/'@') are not indexed — they fall
    * back to the manifest scan. */
  private def parseTxnSeq(txnId: String): Option[(String, Long)] = {
    val m = txnSeqRe.matcher(txnId)
    if (m.matches()) Some((m.group(1), m.group(2).toLong)) else None
  }
  private val txnSeqRe =
    java.util.regex.Pattern.compile("(.*[#@])(\\d{1,18})")

  private def logDir(table: String): Path = Paths.get(table, "_log")
  private def manifestPath(table: String, v: Long): Path =
    logDir(table).resolve(f"v$v%08d.manifest")

  /** Directory listing with the stream CLOSED — `Files.list` holds an
    * open fd until closed, and the log's hot paths (latestVersion on
    * every snapshot, vacuum loops) would otherwise leak one per call
    * until the process hits EMFILE. */
  private def listDir(dir: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq
    finally s.close()
  }

  // entry codec, shared by `file=` (checkpoint) and `add=` (delta)
  // lines: `<path>` plus segments `;@<ver>` (added-at version),
  // `;#<bytes>` (write-time size), `;$<rows>` (write-time row count),
  // `;<col>:<min>:<max>[:<nulls>]` (long stat, optional null count) or
  // `;~<enc col>:<enc min>:<enc max>` (string stat, URL-encoded) —
  // paths are uuid-dir/part-file names, which never contain ';' or ':'.
  // Absence of a segment reads as the legacy default (ver 0, bytes −1,
  // rows −1, nulls −1) — OLD manifests parse under NEW readers. The
  // converse is NOT true: a reader that predates a segment CRASHES on
  // it (an unknown `;x` prefix lands in the long-stat arm; a 4th stat
  // field breaks a 3-way split), so every segment addition must bump
  // `ManifestFormat` below and readers refuse manifests stamped newer
  // than they understand instead of misparsing them.
  private def renderEntry(f: FileEntry): String = {
    def enc(v: String) = java.net.URLEncoder.encode(v, "UTF-8")
    f.path +
      (if (f.ver > 0) s";@${f.ver}" else "") +
      (if (f.bytes >= 0) s";#${f.bytes}" else "") +
      (if (f.rows >= 0) s";$$${f.rows}" else "") +
      f.stats.map(st => s";${st.col}:${st.min}:${st.max}" +
        (if (st.nulls >= 0) s":${st.nulls}" else "")).mkString +
      f.strStats.map(st =>
        s";~${enc(st.col)}:${enc(st.min)}:${enc(st.max)}").mkString
  }

  private def parseEntry(s: String): FileEntry = {
    def dec(v: String) = java.net.URLDecoder.decode(v, "UTF-8")
    val parts = s.split(";")
    val segs = parts.tail.toSeq
    val (verSegs, rest0) = segs.partition(_.startsWith("@"))
    val (byteSegs, rest1) = rest0.partition(_.startsWith("#"))
    val (rowSegs, statSegs) = rest1.partition(_.startsWith("$"))
    val (strSegs, longSegs) = statSegs.partition(_.startsWith("~"))
    FileEntry(parts.head,
      longSegs.map { st =>
        val a = st.split(":")
        FileStat(a(0), a(1).toLong, a(2).toLong,
          if (a.length > 3) a(3).toLong else -1L)
      },
      strSegs.map { st =>
        val Array(c, mn, mx) = st.drop(1).split(":", 3)
        FileStrStat(dec(c), dec(mn), dec(mx))
      },
      ver = verSegs.headOption.map(_.drop(1).toLong).getOrElse(0L),
      bytes = byteSegs.headOption.map(_.drop(1).toLong).getOrElse(-1L),
      rows = rowSegs.headOption.map(_.drop(1).toLong).getOrElse(-1L))
  }

  // delete-sidecar codec: `del=` (full manifests: complete set) and
  // `deladd=` (deltas: this commit's additions) lines, each
  // `<ver>;<enc keyCol>;<entry>` with `<entry>` the shared file-entry
  // codec above
  private def renderDel(d: DeleteEntry): String =
    s"${d.ver};${java.net.URLEncoder.encode(d.keyCol, "UTF-8")};" +
      renderEntry(d.file)

  private def parseDel(s: String): DeleteEntry = {
    val Array(ver, keyCol, entry) = s.split(";", 3)
    DeleteEntry(parseEntry(entry),
      java.net.URLDecoder.decode(keyCol, "UTF-8"), ver.toLong)
  }

  /** The manifest dialect this build reads and writes, stamped as
    * `format=` in every manifest. Bump it whenever a change would
    * MISPARSE under the previous reader (a new entry-codec segment, a
    * new stat field) — additions an old reader safely ignores (new
    * `key=` lines) don't need one. Readers refuse manifests stamped
    * newer than this, loudly: the alternative is an AIOOBE deep in the
    * entry codec, or worse a silently wrong parse. Unstamped manifests
    * predate the stamp and always parse (dialect 1). */
  private[graft] val ManifestFormat = 2

  /** Parse a manifest; the `end=true` terminator is written last, so a
    * manifest missing it (impossible via the link protocol, possible if
    * someone hand-copies a partial file) is rejected. */
  private def parseRec(p: Path): Option[ManifestRec] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(p)) return None
    val lines =
      try Files.readAllLines(p, UTF_8).asScala
      catch { case _: java.io.IOException => return None } // vacuumed mid-read
    val kv = lines.filterNot(l => l.startsWith("file=") ||
        l.startsWith("add=") || l.startsWith("remove=") ||
        l.startsWith("del=") || l.startsWith("deladd=") ||
        l.startsWith("schemaop=") || l.startsWith("check="))
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    if (!kv.get("end").contains("true")) return None
    kv.get("format").map(_.toLong).filter(_ > ManifestFormat).foreach(f =>
      sys.error(s"manifest $p is format $f, newer than this reader's " +
        s"$ManifestFormat — upgrade the reader before opening tables " +
        "written by newer writers (refusing rather than misparsing)"))
    Some(ManifestRec(
      version = kv("version").toLong,
      baseVersion = kv("base").toLong,
      action = kv("action"),
      rows = kv("rows").toLong,
      kind = kv.getOrElse("kind", "full"),
      files = lines.filter(_.startsWith("file="))
        .map(l => parseEntry(l.drop(5))).toSeq,
      adds = lines.filter(_.startsWith("add="))
        .map(l => parseEntry(l.drop(4))).toSeq,
      removes = lines.filter(_.startsWith("remove="))
        .map(_.drop(7)).toSeq,
      dels = lines.filter(_.startsWith("del="))
        .map(l => parseDel(l.drop(4))).toSeq,
      delAdds = lines.filter(_.startsWith("deladd="))
        .map(l => parseDel(l.drop(7))).toSeq,
      txn = kv.get("txn"),
      schemaJson = kv.get("schema"),
      counters = kv.collect { case (k, v) if k.startsWith("counter.") =>
        java.net.URLDecoder.decode(k.drop(8), "UTF-8") -> v.toLong },
      tsMs = kv.get("ts").map(_.toLong).getOrElse(0L),
      txnHw = kv.collect { case (k, v) if k.startsWith("txnhw.") =>
        val Array(n, ver) = v.split(":", 2)
        java.net.URLDecoder.decode(k.drop(6), "UTF-8") ->
          (n.toLong, ver.toLong) },
      txnComplete = kv.get("txncomplete").contains("true"),
      schemaOps = lines.filter(_.startsWith("schemaop="))
        .map { l =>
          val Array(ver, kind, c, to) = l.drop(9).split(";", 4)
          SchemaOp(ver.toLong, kind,
            java.net.URLDecoder.decode(c, "UTF-8"),
            java.net.URLDecoder.decode(to, "UTF-8"))
        }.toSeq,
      checks = lines.filter(_.startsWith("check="))
        .map { l =>
          val Array(n, e) = l.drop(6).split(";", 2)
          java.net.URLDecoder.decode(n, "UTF-8") ->
            java.net.URLDecoder.decode(e, "UTF-8")
        }.toSeq))
  }

  private def renderManifest(r: ManifestRec): String = {
    val sb = new StringBuilder
    sb ++= s"format=$ManifestFormat\n"
    sb ++= s"version=${r.version}\n"
    sb ++= s"base=${r.baseVersion}\n"
    sb ++= s"action=${r.action}\n"
    sb ++= s"rows=${r.rows}\n"
    sb ++= s"kind=${r.kind}\n"
    if (r.tsMs > 0) sb ++= s"ts=${r.tsMs}\n"
    r.txn.foreach(t => sb ++= s"txn=$t\n")
    if (r.txnComplete) sb ++= "txncomplete=true\n"
    r.txnHw.toSeq.sortBy(_._1).foreach { case (s, (n, v)) =>
      sb ++= s"txnhw.${java.net.URLEncoder.encode(s, "UTF-8")}=$n:$v\n" }
    r.schemaJson.foreach(j => sb ++= s"schema=$j\n")
    r.counters.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb ++= s"counter.${java.net.URLEncoder.encode(k, "UTF-8")}=$v\n" }
    r.files.foreach(f => sb ++= s"file=${renderEntry(f)}\n")
    r.adds.foreach(f => sb ++= s"add=${renderEntry(f)}\n")
    r.removes.foreach(p => sb ++= s"remove=$p\n")
    r.dels.foreach(d => sb ++= s"del=${renderDel(d)}\n")
    r.delAdds.foreach(d => sb ++= s"deladd=${renderDel(d)}\n")
    r.schemaOps.foreach { op =>
      val c = java.net.URLEncoder.encode(op.col, "UTF-8")
      val t = java.net.URLEncoder.encode(op.to, "UTF-8")
      sb ++= s"schemaop=${op.ver};${op.kind};$c;$t\n"
    }
    r.checks.foreach { case (n, e) =>
      sb ++= s"check=${java.net.URLEncoder.encode(n, "UTF-8")};" +
        s"${java.net.URLEncoder.encode(e, "UTF-8")}\n"
    }
    sb ++= "end=true\n"
    sb.toString
  }

  /** Resolve version `v` to its full Snapshot: a checkpoint IS one; a
    * delta replays onto version v−1 (recursion depth bounded by
    * `checkpointInterval` — vacuum retention never drops a checkpoint
    * a retained delta still needs). */
  private def resolveRec(table: String, v: Long): Option[Snapshot] =
    parseRec(manifestPath(table, v)).flatMap { r =>
      if (r.kind == "full")
        Some(Snapshot(r.version, r.baseVersion, r.action, r.rows, r.files,
          r.txn, r.schemaJson, r.counters, r.dels, r.schemaOps, r.checks))
      else
        // a missing/unparseable base usually means a concurrent vacuum
        // dropped this version's chain while we resolved it — surface
        // "no longer resolvable" (None, like any vacuumed version), not
        // a crash. `snapshot` re-raises loudly for the LATEST version,
        // whose chain vacuum never drops (true corruption).
        resolveRec(table, v - 1).map { base =>
          val rm = r.removes.toSet
          Snapshot(r.version, r.baseVersion, r.action, r.rows,
            base.files.filterNot(f => rm(f.path)) ++ r.adds,
            r.txn, r.schemaJson, r.counters, base.dels ++ r.delAdds,
            r.schemaOps, r.checks)
        }
    }

  /** Latest committed version, or 0 for an empty/new table. */
  def latestVersion(table: String): Long = {
    val dir = logDir(table)
    if (!Files.exists(dir)) return 0L
    listDir(dir)
      .map(_.getFileName.toString)
      .collect { case n if n.matches("v\\d{8}\\.manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
      .maxOption.getOrElse(0L)
  }

  def snapshot(table: String): Option[Snapshot] = {
    val v = latestVersion(table)
    if (v == 0) None
    // the latest version's delta chain is never vacuumed (retention is
    // checkpoint-granular), so failing to resolve it is corruption and
    // must not read as "empty table" — an append would then loop forever
    // trying to commit a version that already exists
    else Some(resolveRec(table, v).getOrElse(sys.error(
      s"$table: latest version v$v unresolvable — manifest chain broken")))
  }

  def snapshotAt(table: String, version: Long): Option[Snapshot] =
    resolveRec(table, version)

  /** The storage primitive commits go through — the log's ONLY
    * atomicity dependency (see CommitPrimitive). Default: local-FS
    * hard-link. Swap for an object-store adapter to run the format on
    * S3/GCS (conditional PUT); TableLogSpec re-runs the racing-writer
    * contract against the ConditionalPut mock to keep the abstraction
    * honest. Scoped PER TABLE, not process-global: swapping the
    * primitive for one table (a test, an experiment, an S3-backed
    * table in a mixed deployment) must never reroute a concurrent
    * writer on an unrelated table through it. */
  private val tablePrimitives =
    new java.util.concurrent.ConcurrentHashMap[String, CommitPrimitive]()

  def setCommitPrimitive(table: String, p: CommitPrimitive): Unit =
    tablePrimitives.put(table, p)

  def clearCommitPrimitive(table: String): Unit =
    tablePrimitives.remove(table)

  private def primitiveFor(table: String): CommitPrimitive =
    Option(tablePrimitives.get(table)).getOrElse(CommitPrimitive.HardLink)

  /** One commit's content, stated against the base snapshot it was
    * built on; [[commit]] renders it as a checkpoint or a delta.
    * `adds` are this commit's new data files (stamped at the commit
    * version) and `removes` the paths it retires. `files` restates the
    * whole list instead (rewrite, restore, overwrite, branch merge);
    * `dels` restates the complete delete set (materialize, fold,
    * restore), and `pruneDels` drops every delete entry that fences no
    * surviving file. Either restatement forces a checkpoint — a delta
    * can neither replace the list wholesale nor remove a delete entry.
    * `delAdds`, `schemaOps`, `ckAdd` and `ckDrop` are this commit's
    * additions, folded by the commit gate. */
  private final case class Change(action: String, rows: Long,
      schemaJson: Option[String], counters: Map[String, Long],
      adds: Seq[FileEntry] = Nil, removes: Seq[String] = Nil,
      delAdds: Seq[DeleteEntry] = Nil,
      files: Option[Seq[FileEntry]] = None,
      dels: Option[Seq[DeleteEntry]] = None, pruneDels: Boolean = false,
      schemaOps: Seq[SchemaOp] = Nil,
      ckAdd: Option[(String, String)] = None,
      ckDrop: Option[String] = None)

  /** What [[commit]] returns: the version now holding the write, and
    * whether THIS call committed it (false: `build` was a no-op, or a
    * racing writer already committed the same txn id). */
  private final case class Landed(version: Long, fresh: Boolean)

  /** THE commit path: every write face commits through here
    * (`cloneTable` and `publishBranch` publish manifests they render
    * whole). Each attempt re-reads the latest
    * snapshot, answers a replayed `txnId` with the version that
    * committed it, and hands `build` the base and the version it would
    * commit (base + 1). `build` runs the face's guards and Spark work
    * against that base and states the [[Change]], or None for a no-op.
    * The checkpoint decision is made here and nowhere else: FULL at v1,
    * every `checkpointInterval`-th version, whole-list replacements,
    * and commits whose live delete set shrank or changed; DELTA
    * otherwise. A CAS conflict re-runs the attempt against the new
    * base — written data files are the face's to reuse or leave as
    * invisible garbage for vacuum. */
  private def commit(table: String, txnId: Option[String] = None)(
      build: (Option[Snapshot], Long) => Option[Change]): Landed = {
    // The commit gate: stamp the version-chained fields, then publish
    // the fully-rendered manifest at its versioned name via the commit
    // primitive. True = committed; false = CAS conflict (that version
    // now exists — re-read and retry). A vanished temp manifest (a
    // concurrent `vacuum` with an aggressive staleness threshold) is
    // ALSO surfaced as a retry, not a crash — the next attempt rewrites
    // a fresh temp.
    def tryCommit(r: ManifestRec): Boolean = {
      Files.createDirectories(logDir(table))
      // commit timestamp, stamped at the single commit gate so every
      // write path carries one, and STRICTLY MONOTONIC vs the previous
      // version (max(now, prev+1) — one extra small-file read): a clock
      // hiccup or two commits in one millisecond would otherwise make
      // ts → version resolution ambiguous, and `readAsOf`'s binary
      // search relies on ts ordering matching version ordering (Delta
      // applies the same in-commit adjustment for its timestamp travel)
      val prev =
        if (r.version <= 1) None
        else parseRec(manifestPath(table, r.version - 1))
      val prevTs = prev.map(_.tsMs).getOrElse(0L)
      // txn high-water index: fold this commit's structured txn id into
      // the previous version's map (max-sequence wins, so an
      // out-of-order replay never regresses the frontier); completeness
      // propagates from v1 so a legacy chain is never misread as indexed
      val hwBase =
        prev.map(_.txnHw).getOrElse(Map.empty[String, (Long, Long)])
      val hw = r.txn.flatMap(parseTxnSeq) match {
        case Some((stream, n))
            if !hwBase.get(stream).exists(_._1 >= n) =>
          hwBase + (stream -> (n, r.version))
        case _ => hwBase
      }
      val complete = r.version == 1 || prev.exists(_.txnComplete)
      // schema-op history is carried COMPLETE in every manifest (same
      // denormalization as the txn index): this commit's additions, if
      // any, append to the previous version's full list
      // a RESTORE resets the op history to the target version's list —
      // the restored files pre-date ops that no longer apply, and
      // carrying them forward would freed-fence restored columns to null
      val ops =
        if (r.action == "restore") r.schemaOps
        else prev.map(_.schemaOps).getOrElse(Nil) ++ r.schemaOps
      // CHECK constraint set: previous complete set ± this commit's delta
      val cks = prev.map(_.checks).getOrElse(Nil)
        .filterNot(c => r.ckDrop.contains(c._1)) ++ r.ckAdd.toSeq
      val stamped = r.copy(
        schemaOps = ops,
        checks = cks,
        tsMs = math.max(System.currentTimeMillis, prevTs + 1),
        txnHw = hw, txnComplete = complete)
      primitiveFor(table).putIfAbsent(manifestPath(table, stamped.version),
        renderManifest(stamped).getBytes(UTF_8))
    }
    @scala.annotation.tailrec
    def attempt(): Landed = {
      val base = snapshot(table)
      val version = base.fold(0L)(_.version) + 1
      txnId.flatMap(committedTxnVersion(table, _)) match {
        case Some(v) => Landed(v, fresh = false)
        case None => build(base, version) match {
          case None => Landed(version - 1, fresh = false)
          case Some(c) =>
            val adds = c.adds.map(_.copy(ver = version))
            lazy val files = c.files.getOrElse {
              val rm = c.removes.toSet
              base.fold(Seq.empty[FileEntry])(
                _.files.filterNot(f => rm(f.path))) ++ adds
            }
            val baseDels = base.fold(Seq.empty[DeleteEntry])(_.dels)
            val dels = c.dels.getOrElse(
              if (c.pruneDels) liveDelsAfter(base.get, files) else baseDels)
            val full = base.isEmpty || version % checkpointInterval == 0 ||
              c.files.isDefined || dels != baseDels
            val delta = ManifestRec(version, version - 1, c.action, c.rows,
              "delta", Nil, adds, c.removes, Nil, c.delAdds, txnId,
              c.schemaJson, c.counters, schemaOps = c.schemaOps,
              ckAdd = c.ckAdd, ckDrop = c.ckDrop)
            val r =
              if (full) delta.copy(kind = "full", files = files, adds = Nil,
                removes = Nil, dels = dels ++ c.delAdds, delAdds = Nil)
              else delta
            if (tryCommit(r)) Landed(version, fresh = true)
            else attempt()
        }
      }
    }
    attempt()
  }

  /** [[commit]] for the faces that need a committed base. */
  private def commitOn(table: String, txnId: Option[String] = None)(
      build: (Snapshot, Long) => Option[Change]): Landed =
    commit(table, txnId)((b, version) => build(b.getOrElse(
      sys.error(s"no committed version in $table")), version))

  // ---- manifest bloom stats: point-lookup pruning where range stats
  // are blind. A [min,max] range on an UNCLUSTERED high-cardinality key
  // spans nearly the whole domain in every file, so readWhere prunes
  // nothing; a small per-file Bloom filter (4 KiB, k=4 — ~0.02% FPP at
  // 1k distinct keys/file) answers "can this file contain key = v" for
  // an equality probe. Stored in the existing string-stat slot under the
  // reserved name `bloom:<col>` (min = base64 bitset, max = "m,k"), so
  // the manifest format, parser, and every existing reader are
  // untouched — range readers look up their own column name and never
  // see bloom entries. Like all stats: prune IO, never semantics (a
  // file without a bloom is kept; the residual filter still applies).
  private[graft] val bloomM = 1 << 15 // bits per file (4 KiB bitset)
  private[graft] val bloomK = 4 // probe hashes
  /** A bloom filled past this prunes ~nothing (FPP = fill^k ≈ 13% at
    * 0.6) while still costing manifest bytes — OMIT it instead. The
    * honest domain of a MANIFEST-carried bloom is ingest-grain files
    * (~1% FPP at 3k distinct keys, ~4% at 5k); a saturated big-file bloom is
    * parquet-footer territory, and absence keeps the file (stats prune
    * IO, never semantics). */
  private[graft] val bloomMaxFill = 0.6

  private def bloomStatName(c: String) = s"bloom:$c"

  /** The k bit positions for probe value `v` under modulus `m`,
    * computed THROUGH a one-row Spark plan so the hash is bit-identical
    * to the builder's distributed `xxhash64` (driver-reimplementing the
    * hash would silently diverge on type widening). Metadata-sized
    * work; `m`/`k` come from the STAT being probed, so files written
    * under any historical sizing keep pruning correctly. */
  private def bloomPositions(spark: SparkSession, v: Any, m: Int,
      k: Int): Seq[Int] = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val r = spark.range(1).select((0 until k).map(i =>
      pmod(xxhash64(lit(i), lit(v)), lit(m.toLong)).cast("int")
        .as(s"p$i")): _*).head()
    (0 until k).map(r.getInt)
  }

  private def renderBloom(positions: Iterable[Int]): String = {
    val bits = new java.util.BitSet(bloomM)
    positions.foreach(bits.set)
    java.util.Base64.getEncoder.encodeToString(bits.toByteArray)
  }

  private def bloomMayContain(b64: String, positions: Seq[Int]): Boolean = {
    val bits = java.util.BitSet.valueOf(
      java.util.Base64.getDecoder.decode(b64))
    positions.forall(bits.get)
  }

  /** A violation-counting aggregate that RIDES the staged-file stats
    * pass (`statEntriesFor`), so a constrained write costs ONE scan of
    * the staged files instead of stats + a second enforcement read:
    * `bad` is TRUE for a violating row; `msg` renders the refusal for
    * a nonzero count (thrown as the usual require/IllegalArgument).
    * Used for CHECK constraints on every staged-output face and for
    * replaceWhere's slice-ownership predicate. */
  private[graft] final case class StagedAudit(bad: Column,
      msg: Long => String)

  /** The CHECK-constraint audits for a staged write — same violation
    * semantics and refusal message as [[enforceChecks]] (violation =
    * expression FALSE; NULL passes). */
  private[graft] def checkAudits(table: String,
      checks: Seq[(String, String)], what: String): Seq[StagedAudit] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    checks.map { case (n, e) => StagedAudit(
      !coalesce(expr(e), lit(true)),
      bad => s"$what to $table violates CHECK constraint '$n' ($e): " +
        s"$bad row(s) — not committing") }
  }

  /** Write `df` as a new immutable data-file set under `<table>/data/`,
    * returning (its file entries, footer row count). Never visible
    * until a manifest referencing it commits. */
  private def writeDataFiles(spark: SparkSession, table: String,
      df: DataFrame, statsCols: Seq[String],
      strStatsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      derivedStats: Seq[(String, Column)] = Nil,
      audits: Seq[StagedAudit] = Nil): (Seq[FileEntry], Long) = {
    val setId = java.util.UUID.randomUUID().toString
    val outDir = s"$table/data/$setId"
    val rels = writeStagedFiles(spark, outDir, df)
      .map(n => s"data/$setId/$n")
    try statEntriesFor(spark, table, rels, statsCols, strStatsCols,
      bloomCols, derivedStats, audits, writeSchema = Some(df.schema))
    catch { case e: Throwable if audits.nonEmpty =>
      // a refused audited write must leave no staged orphans — this
      // call owns the staging dir, so it cleans before rethrowing
      rels.foreach { rel =>
        val p = Paths.get(table, rel)
        Files.deleteIfExists(p)
        Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
      }
      throw e
    }
  }

  /** Direct single-pass staged write (guide §1.2/§5, the batch twin of
    * the streaming sink's DataWriters): each task writes ONE parquet
    * file straight into the commit's private `data/<setId>/` dir
    * through the same writer stack a batch `df.write` uses
    * (ParquetWrite bridge — bytes identical), opened LAZILY on the
    * first row so empty tasks leave no file. This skips the
    * FileOutputCommitter protocol entirely — no `_temporary` staging,
    * no task/job-commit renames, no `_SUCCESS`, no write-command
    * re-planning — a fixed 50–150 ms of driver time per commit on the
    * lifecycle faces, and on an object store a rename-storm per
    * commit. Atomicity is unchanged because the set dir is INVISIBLE
    * until the manifest CAS publishes it, and only files reported by
    * WINNING task attempts are returned (a failed attempt deletes its
    * partial file in its finally; a killed speculative loser's file
    * stays unmanifested garbage — the same class as a CAS loser's
    * write). `spark.graft.write.direct=false` restores the committer
    * path; parity of the two paths is spec-pinned. */
  private def writeStagedFiles(spark: SparkSession, outDir: String,
      df: DataFrame): Seq[String] = {
    if (!spark.conf.get("spark.graft.write.direct", "true").toBoolean) {
      df.write.parquet(outDir)
      return listDir(Paths.get(outDir))
        .map(_.getFileName.toString)
        .filter(_.endsWith(".parquet"))
        .sorted
    }
    val pw = org.apache.spark.sql.graft.ParquetWrite.factory(spark, df.schema)
    Files.createDirectories(Paths.get(outDir))
    val rdd = df.queryExecution.toRdd
    // a provably-empty write (0 partitions after AQE finalization, e.g.
    // an empty-source commit) stages nothing — skip the job dispatch
    if (rdd.getNumPartitions == 0) return Nil
    val written = spark.sparkContext.runJob(
      rdd,
      (ctx: org.apache.spark.TaskContext,
          it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        if (!it.hasNext) null
        else {
          // attempt ids make retried/speculative attempts collision-free;
          // only the winner's name is returned to the driver
          val name = f"part-${ctx.partitionId()}%05d-" +
            s"a${ctx.attemptNumber()}-t${ctx.taskAttemptId()}.parquet"
          val abs = s"$outDir/$name"
          var ok = false
          val w = pw.open(abs, ctx.partitionId(), ctx.attemptNumber())
          try {
            while (it.hasNext) w.write(it.next())
            w.close()
            ok = true
          } finally if (!ok) {
            try w.close() catch { case _: Throwable => () }
            val p = Paths.get(abs)
            Files.deleteIfExists(p)
            Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
            ()
          }
          name
        }
      })
    written.filter(_ != null).sorted.toSeq
  }

  /** The manifest-entry pass over ALREADY-WRITTEN files (table-relative
    * paths): per-file footer row counts, zero-row file deletion, the
    * stat/bloom aggregation passes, write-time bytes. Shared by
    * `writeDataFiles` (which just wrote them) and the streaming epoch
    * commit (whose executor-side DataWriters wrote them — and whose
    * path list comes from commit MESSAGES, so a zombie task's orphan
    * file is never manifested). */
  /** Past this many files in one commit, per-file row counts come
    * from the distributed stats aggregate instead of driver-side
    * footer reads (see the comment inside). Var for test override. */
  private[graft] var footerCountThreshold: Int = 1024

  /** Staged-file DATA scans (stats/audit aggregate passes) — test
    * observability: with [[StagedAudit]]s riding the stats pass, a
    * constrained commit must cost exactly ONE scan of its staged
    * files (pinned as a counter delta, like `morFilesPlanned`). */
  private[graft] val stagedScanPasses =
    new java.util.concurrent.atomic.AtomicLong

  private def statEntriesFor(spark: SparkSession, table: String,
      relPaths: Seq[String], statsCols: Seq[String],
      strStatsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      derivedStats: Seq[(String, Column)] = Nil,
      audits: Seq[StagedAudit] = Nil,
      writeSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : (Seq[FileEntry], Long) = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    // the just-written files' schema is the writer's schema — reading
    // with it skips a per-commit parquet schema-inference Spark job
    // (pure metadata recomputation ahead of each stats/audit pass)
    def readStaged(paths: Seq[String]): DataFrame =
      writeSchema.map(s => spark.read.schema(s))
        .getOrElse(spark.read).parquet(paths: _*)
    val relByName = relPaths.map(p => p.split("/").last -> p).toMap
    require(relByName.size == relPaths.size,
      s"statEntriesFor($table): duplicate file leaf names in $relPaths")
    val allNames = relPaths.map(_.split("/").last).sorted
    // Per-file row counts from the parquet FOOTERS, driver-side (the
    // files were just written, so the metadata is OS-cache hot; this
    // also replaces the whole-directory count() job). Spark's writer
    // creates part files EAGERLY, so a task whose input rows were all
    // filtered away (e.g. a delete-rewrite task whose file fell
    // entirely inside the deleted range) leaves a ZERO-ROW file — and
    // the stats pass below groups by input_file_name, in which an
    // empty file has no group, so it would land in the manifest
    // STAT-LESS. Stat absence means "keep" to every pruner, so one
    // such entry silently defeats every future stat prune and makes
    // disjoint-range no-op deletes impossible. Zero-row files are
    // deleted here and never manifested.
    // bounded-parallel: a large append commits thousands of part
    // files, and on an object store each footer open is a ~10-50 ms
    // round trip — serial reads would put minutes of driver stall on
    // every big commit. Past `footerCountThreshold` files even the
    // pool is a driver stall (100k files × ~30 ms / 16 threads ≈
    // 3 min), so the count(*) rides the DISTRIBUTED stats aggregate
    // instead (one grouped pass, zero extra jobs when stat columns
    // are declared); the zero-row set is then `listing − aggregate
    // groups` (an empty file contributes no group).
    val hconf = spark.sessionState.newHadoopConf()
    // per-file min/max for the stat columns (driver result is
    // files×cols — metadata-sized). Long and string space; derived
    // stats (named long expressions over the written columns, e.g. the
    // z-order value a layout rewrite clustered by) ride the same pass.
    // per-column non-null counts ride the same pass APPENDED (base
    // offsets of the range stats stay put): nulls = fileRows − count,
    // the exactness witness the metadata-only DELETE needs
    val statAggs = statsCols.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"mn_$c"),
      max(col(c).cast("long")).as(s"mx_$c"))) ++
      strStatsCols.flatMap(c => Seq(
        min(col(c).cast("string")).as(s"smn_$c"),
        max(col(c).cast("string")).as(s"smx_$c"))) ++
      derivedStats.zipWithIndex.flatMap { case ((_, e), i) => Seq(
        min(e.cast("long")).as(s"dmn_$i"),
        max(e.cast("long")).as(s"dmx_$i")) } ++
      statsCols.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.functions.count(col(c)).as(s"cnt_$i") } ++
      // violation counts per audit, APPENDED so every base offset of
      // the stat parse stays put; totals are summed across files and
      // enforced after the pass (one scan certifies stats AND checks)
      audits.zipWithIndex.map { case (a, i) =>
        import org.apache.spark.sql.functions.{sum, when, lit}
        sum(when(a.bad, 1L).otherwise(0L)).as(s"au_$i") }
    // one grouped-agg row parsed into (long stats, string stats,
    // per-column NON-NULL counts); `base` = the ordinal of the first
    // stat column in the row. Null counts can only be derived once the
    // file's TOTAL row count is known (nulls = rows − nonNull), so the
    // non-null counts travel as their own map and `withNulls` joins
    // them in at entry-build time — FileStat.nulls never carries an
    // intermediate encoding. An all-null file has no range in either
    // space — omit the stat (readers keep stat-less files, so absence
    // is safe) instead of NPE-ing on getLong.
    type ParsedStats = (Seq[FileStat], Seq[FileStrStat], Map[String, Long])
    def parseStats(r: org.apache.spark.sql.Row, base: Int): ParsedStats = {
      val off = base + 2 * statsCols.size
      val doff = off + 2 * strStatsCols.size
      val coff = doff + 2 * derivedStats.size
      (statsCols.zipWithIndex.flatMap { case (c, i) =>
        if (r.isNullAt(base + 2 * i)) None
        else Some(FileStat(c, r.getLong(base + 2 * i),
          r.getLong(base + 2 * i + 1)))
      }.toSeq ++ derivedStats.zipWithIndex.flatMap { case ((n, _), i) =>
        if (r.isNullAt(doff + 2 * i)) None
        else Some(FileStat(n, r.getLong(doff + 2 * i),
          r.getLong(doff + 2 * i + 1)))
      },
        strStatsCols.zipWithIndex.flatMap { case (c, i) =>
          if (r.isNullAt(off + 2 * i)) None
          else Some(FileStrStat(c, r.getString(off + 2 * i),
            r.getString(off + 2 * i + 1)))
        }.toSeq,
        statsCols.zipWithIndex.map { case (c, i) =>
          c -> r.getLong(coff + i) }.toMap)
    }
    // nulls = rows − nonNull for the declared stat columns (derived
    // stats carry no count agg and stay at the legacy "unknown")
    def withNulls(ls: Seq[FileStat], nonNull: Map[String, Long],
        fileRows: Long): Seq[FileStat] =
      ls.map(st => nonNull.get(st.col)
        .map(nn => st.copy(nulls = fileRows - nn)).getOrElse(st))
    // audit violation counts live AFTER every stat/count column; summed
    // across the per-file rows of whichever branch ran the pass
    val auditTotals = new Array[Long](audits.size)
    def takeAudits(rs: Iterable[org.apache.spark.sql.Row], base: Int)
        : Unit = {
      val off = base + 2 * statsCols.size + 2 * strStatsCols.size +
        2 * derivedStats.size + statsCols.size
      rs.foreach(r => audits.indices.foreach(i =>
        if (!r.isNullAt(off + i)) auditTotals(i) += r.getLong(off + i)))
    }
    val distributedCount = allNames.size > footerCountThreshold
    // Footer-harvested stats (small commits): the footer this pass
    // ALREADY opens for the row count also carries exact per-column
    // min/max/null-count statistics for plain signed INT32/INT64
    // columns — the very numbers the distributed stats aggregate
    // recomputes with a whole Spark job per commit. Below the
    // footer-count threshold, when every long stat column is a plain
    // signed integer (no DATE/TIMESTAMP/DECIMAL logical annotation —
    // their cast-to-long semantics differ from the raw physical value),
    // every string stat column is BINARY/UTF8 (whose footer min/max
    // comparator is the same unsigned-lexicographic order Spark's
    // StringType min/max uses), and the writer recorded null counts,
    // the stats come from the footers and the aggregate job is
    // SKIPPED — one fewer Spark job (plus its planning gap) on every
    // small commit, which at sf0.1 is ~half of a lifecycle query's
    // per-commit cost. Derived stats, audits (constraint checks) and
    // any ineligible column fall back to the aggregate pass unchanged;
    // the distributed path past the threshold is untouched (footer
    // reads there would be the driver stall the threshold exists to
    // avoid). Parity with the aggregate pass (same FileStat/FileStrStat
    // and null accounting) is spec-pinned.
    // String caveat: parquet-mr OMITS binary chunk stats outright when
    // min+max exceed its 4 KB cap (absence → the usual distrust
    // fallback below), but a configured `parquet.statistics.truncate
    // .length` would record valid-bound PREFIXES instead — pruning-safe
    // but not value-exact — so string harvesting is disabled whenever
    // that key is set.
    val strTruncConfigured =
      hconf.get("parquet.statistics.truncate.length") != null
    val footerStatsWanted = !distributedCount &&
      (statsCols.nonEmpty || strStatsCols.nonEmpty) &&
      (strStatsCols.isEmpty || !strTruncConfigured) &&
      derivedStats.isEmpty && audits.isEmpty && bloomCols.isEmpty
    // per long column (col, min, max, nonNull) and per string column
    // (col, min, max, nonNull); None = some column ineligible
    type Harvest = (Long, Option[(Seq[(String, Long, Long, Long)],
      Seq[(String, String, String, Long)])])
    // UTF8String.compareTo semantics: unsigned byte-wise, then length —
    // identical to parquet's UNSIGNED lexicographic BINARY comparator
    def utf8Cmp(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
    def harvestOf(n: String): Harvest = {
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      import org.apache.parquet.schema.LogicalTypeAnnotation
      import scala.jdk.CollectionConverters._
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(
            s"$table/${relByName(n)}"), hconf))
      try {
        val rows = rdr.getRecordCount
        if (!footerStatsWanted) return (rows, None)
        // explicit zero-row guard: an empty file has no blocks, so the
        // fold below would yield ok=true with nonNull=0 — harmless only
        // because zero-row files are dropped from `names` before
        // statsByName consults harvests. Returning None here makes the
        // footer-stats skip independent of that upstream filter.
        if (rows == 0L) return (rows, None)
        val blocks = rdr.getFooter.getBlocks.asScala.toSeq
        var ok = true
        val acc = statsCols.map { c =>
          var mn = Long.MaxValue
          var mx = Long.MinValue
          var nonNull = 0L
          blocks.foreach { b =>
            b.getColumns.asScala
              .find(_.getPath.toDotString == c) match {
              case None => ok = false
              case Some(cc) =>
                val pt = cc.getPrimitiveType
                val typeOk = (pt.getPrimitiveTypeName ==
                    PrimitiveTypeName.INT32 ||
                  pt.getPrimitiveTypeName == PrimitiveTypeName.INT64) &&
                  (pt.getLogicalTypeAnnotation match {
                    case null => true
                    case i: LogicalTypeAnnotation
                        .IntLogicalTypeAnnotation => i.isSigned
                    case _ => false
                  })
                val st = cc.getStatistics
                if (!typeOk || st == null || !st.isNumNullsSet) ok = false
                else {
                  nonNull += cc.getValueCount - st.getNumNulls
                  if (st.hasNonNullValue) st match {
                    case l: org.apache.parquet.column.statistics
                        .LongStatistics =>
                      mn = math.min(mn, l.getMin)
                      mx = math.max(mx, l.getMax)
                    case i: org.apache.parquet.column.statistics
                        .IntStatistics =>
                      mn = math.min(mn, i.getMin.toLong)
                      mx = math.max(mx, i.getMax.toLong)
                    case _ => ok = false
                  }
                }
            }
          }
          // claimed non-null values but no recorded range: distrust
          if (nonNull > 0 && mn > mx) ok = false
          (c, mn, mx, nonNull)
        }
        val sacc = strStatsCols.map { c =>
          var mn: Array[Byte] = null
          var mx: Array[Byte] = null
          var nonNull = 0L
          blocks.foreach { b =>
            b.getColumns.asScala
              .find(_.getPath.toDotString == c) match {
              case None => ok = false
              case Some(cc) =>
                val pt = cc.getPrimitiveType
                val typeOk = pt.getPrimitiveTypeName ==
                    PrimitiveTypeName.BINARY &&
                  (pt.getLogicalTypeAnnotation match {
                    case _: LogicalTypeAnnotation
                        .StringLogicalTypeAnnotation => true
                    case _ => false
                  })
                val st = cc.getStatistics
                if (!typeOk || st == null || !st.isNumNullsSet) ok = false
                else {
                  nonNull += cc.getValueCount - st.getNumNulls
                  if (st.hasNonNullValue) st match {
                    case bs: org.apache.parquet.column.statistics
                        .BinaryStatistics =>
                      val lo = bs.genericGetMin.getBytes
                      val hi = bs.genericGetMax.getBytes
                      if (mn == null || utf8Cmp(lo, mn) < 0) mn = lo
                      if (mx == null || utf8Cmp(hi, mx) > 0) mx = hi
                    case _ => ok = false
                  }
                }
            }
          }
          // claimed non-null values but no recorded range: distrust
          // (also the oversized-value case — parquet omits the stats)
          if (nonNull > 0 && mn == null) ok = false
          (c,
            if (mn == null) null
            else new String(mn, java.nio.charset.StandardCharsets.UTF_8),
            if (mx == null) null
            else new String(mx, java.nio.charset.StandardCharsets.UTF_8),
            nonNull)
        }
        (rows, if (ok) Some((acc, sacc)) else None)
      } finally rdr.close()
    }
    def countOf(n: String): Long = harvestOf(n)._1
    var harvests: Map[String, Harvest] = Map.empty
    val (countByName: Map[String, Long],
        distStats: Map[String, ParsedStats]) =
      if (distributedCount) {
        import org.apache.spark.sql.functions.{count, lit}
        val aggs = (count(lit(1)).as("__n") +: statAggs)
        stagedScanPasses.incrementAndGet()
        val rs = readStaged(relPaths.map(p => s"$table/$p"))
          .groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
        takeAudits(rs, 2)
        val counted = rs.map(r =>
          r.getString(0).split("/").last -> r.getLong(1)).toMap
        // files with no aggregate group are deleted as empty below, so
        // a group keyed by a basename outside the just-written set —
        // URI-encoding drift, an alien path in the scan — must fail
        // LOUDLY here: mapping it to getOrElse-0 would physically
        // delete a non-empty data file (the footer path fails loudly
        // on the same shape by construction)
        val unknown = counted.keySet -- allNames
        require(unknown.isEmpty,
          s"statEntriesFor($table): distributed row-count groups " +
            s"match no just-written file: ${unknown.take(5).mkString(",")}")
        // "no group" usually means a zero-row part file — but prove it
        // with the file's own footer before the caller deletes it (the
        // claimed-empty set is small, so this is a handful of
        // metadata reads, not a driver stall)
        allNames.filterNot(counted.contains).foreach { n =>
          val c = countOf(n)
          require(c == 0L,
            s"statEntriesFor($table): $n has $c rows in its footer " +
              "but produced no distributed aggregate group — the " +
              "scan missed it; refusing to delete it as empty")
        }
        (allNames.map(n => n -> counted.getOrElse(n, 0L)).toMap,
          if (statAggs.isEmpty) Map.empty[String, ParsedStats]
          else rs.map(r =>
            r.getString(0).split("/").last -> parseStats(r, 2)).toMap)
      } else {
        val hs =
          if (allNames.size <= 4) allNames.map(n => n -> harvestOf(n)).toMap
          else {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
            try allNames.map(n => n -> pool.submit(
                new java.util.concurrent.Callable[Harvest] {
                  override def call(): Harvest = harvestOf(n)
                }))
              .map { case (n, f) => n -> f.get() }.toMap
            finally pool.shutdown()
          }
        harvests = hs
        (hs.map { case (n, (c, _)) => n -> c },
          Map.empty[String, ParsedStats])
      }
    val names = allNames.filter(n => countByName(n) > 0L)
    allNames.filterNot(countByName(_) > 0L).foreach { n =>
      val p = Paths.get(table, relByName(n))
      Files.deleteIfExists(p)
      Files.deleteIfExists(p.resolveSibling(s".$n.crc"))
    }
    val rows = countByName.valuesIterator.sum
    val livePaths = names.map(n => s"$table/${relByName(n)}")
    val statsByName: Map[String, ParsedStats] =
      if (statAggs.isEmpty || names.isEmpty) Map.empty
      else if (distributedCount) distStats
      else if (footerStatsWanted &&
          names.forall(n => harvests.get(n).exists(_._2.isDefined)))
        // the footer harvest above covered every live file and column:
        // the stats aggregate job is skipped outright (same FileStat /
        // FileStrStat / non-null accounting — an all-null column gets
        // NO range stat, exactly like the aggregate's null min)
        names.map { n =>
          val (cols, scols) = harvests(n)._2.get
          n -> ((cols.collect { case (c, mn, mx, nn) if nn > 0 =>
            FileStat(c, mn, mx) },
            scols.collect { case (c, mn, mx, nn) if nn > 0 =>
              FileStrStat(c, mn, mx) },
            cols.map { case (c, _, _, nn) => c -> nn }.toMap)
            : ParsedStats)
        }.toMap
      else {
        stagedScanPasses.incrementAndGet()
        val rs = readStaged(livePaths)
          .groupBy(input_file_name().as("__f"))
          .agg(statAggs.head, statAggs.tail: _*)
          .collect()
        takeAudits(rs, 1)
        rs.map(r => r.getString(0).split("/").last -> parseStats(r, 1))
          .toMap
      }
    // enforce the audits BEFORE anything references the entries —
    // caller-side staging cleanup (writeDataFiles / Spark abort())
    // runs on the throw, so a violating batch never reaches a manifest
    audits.zipWithIndex.foreach { case (a, i) =>
      require(auditTotals(i) == 0L, a.msg(auditTotals(i))) }
    // per-file bloom bitsets: one distributed pass per bloom column,
    // collect_set of ≤ bloomM bit positions per file (bounded driver
    // result: files × bloomM ints per commit's file set)
    val bloomByName: Map[String, Seq[FileStrStat]] =
      if (bloomCols.isEmpty || names.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{collect_set, lit, pmod, xxhash64}
        val scan = readStaged(livePaths)
        bloomCols.flatMap { c =>
          val aggs = (0 until bloomK).map(i =>
            collect_set(pmod(xxhash64(lit(i), col(c)), lit(bloomM.toLong))
              .cast("int")).as(s"p$i"))
          scan.groupBy(input_file_name().as("__f"))
            .agg(aggs.head, aggs.tail: _*)
            .collect()
            .flatMap { r =>
              val pos = (1 to bloomK).flatMap(i =>
                r.getSeq[Int](i)).distinct
              // saturated bloom (high-NDV file): omit — it would prune
              // ~nothing and absence keeps the file
              if (pos.size.toDouble / bloomM > bloomMaxFill) None
              else Some(r.getString(0).split("/").last ->
                FileStrStat(bloomStatName(c), renderBloom(pos),
                  s"$bloomM,$bloomK"))
            }
        }.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSeq }
      }
    (names.map { n =>
      val (ls, ss, nonNull) =
        statsByName.getOrElse(n, (Nil, Nil, Map.empty[String, Long]))
      // size + row count recorded NOW, while the writer already holds
      // the file's metadata hot — every later footprint or row-count
      // question (computeStats, detail, compaction sizing, the
      // metadata-only DELETE's accounting) becomes a manifest lookup
      FileEntry(relByName(n), withNulls(ls, nonNull, countByName(n)),
        ss ++ bloomByName.getOrElse(n, Nil),
        bytes = try Files.size(Paths.get(table, relByName(n)))
          catch { case _: java.io.IOException => -1L },
        rows = countByName(n))
    }, rows)
  }

  /** Read the table at its latest version (or a pinned one): a parquet
    * scan of EXACTLY the manifest's files. */
  def read(spark: SparkSession, table: String): DataFrame =
    readSnapshot(spark, table,
      snapshot(table).getOrElse(sys.error(s"no committed version in $table")))

  /** The DECLARATIVE read face: a DataFrame whose leaf is a Catalyst
    * relation (`GraftLogRelation`), so whatever filters the query puts
    * on it — `.where`, SQL over a temp view, join-inferred predicates —
    * reach the MANIFEST and prune files before the parquet scan is even
    * planned (`plans.PruneLogScan`; the rule is installed on the
    * session idempotently here). Snapshot-resolved once, like every
    * read face; results are identical to `read` + the same filters,
    * pruning included where `readWhere`/`readWhereIn`/`readWherePoint`
    * would prune. Legacy tables without a recorded schema fall back to
    * the eager scan (nothing to resolve a leaf schema from). */
  def scan(spark: SparkSession, table: String): DataFrame =
    mkScan(spark, table, snapshotOrFail(table))

  // ── the SQL DML face (plans.GraftSqlDml holds the translation) ──
  // Keyed per SESSION (weakly, so a dropped session's entries are
  // GC-reclaimed), then by lowercased view name: the views the
  // registry shadows are SESSION-scoped temp views, so a process-global
  // name→table map would let session A's "UPDATE v" silently mutate
  // the table path session B registered under the same name —
  // wrong-table mutation with no error. Session scoping makes the
  // registry exactly as visible as the view it describes.
  private val sqlDmlRegs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[
        String, graft.plans.GraftSqlDml.Reg]]())

  /** Register a log table for the SQL face: the declarative `scan`
    * becomes temp view `name` (SELECT), and UPDATE / DELETE / MERGE
    * text naming the view routes to the TableLog mutation faces with
    * the given stat columns re-derived on every rewriting commit —
    * through `TableLog.sql` on any session, or plain `spark.sql` when
    * the session was built with `GraftExtensions`. DML commits
    * re-register the view, so subsequent SELECTs see the new
    * version. */
  def registerSqlTable(spark: SparkSession, name: String, table: String,
      statsCols: Seq[String] = Nil, strStatsCols: Seq[String] = Nil,
      bloomStatsCols: Seq[String] = Nil,
      morKey: Option[String] = None,
      maxDvPositions: Long = 2000000L): Unit = {
    scan(spark, table).createOrReplaceTempView(name)
    sqlDmlRegs.synchronized {
      sqlDmlRegs.computeIfAbsent(spark, _ =>
        new java.util.concurrent.ConcurrentHashMap())
    }.put(name.toLowerCase(java.util.Locale.ROOT),
      graft.plans.GraftSqlDml.Reg(table, statsCols, strStatsCols,
        bloomStatsCols, morKey, maxDvPositions))
  }

  private[graft] def sqlDmlReg(spark: SparkSession, name: String)
      : Option[graft.plans.GraftSqlDml.Reg] =
    Option(sqlDmlRegs.get(spark)).flatMap(m =>
      Option(m.get(name.toLowerCase(java.util.Locale.ROOT))))

  /** Undo `registerSqlTable` — drops the temp view and the DML
    * registration; the commit log itself is untouched (EXTERNAL-table
    * semantics, the SQL face's `DROP TABLE`). */
  def unregisterSqlTable(spark: SparkSession, name: String): Boolean = {
    val had = Option(sqlDmlRegs.get(spark)).flatMap(m =>
      Option(m.remove(name.toLowerCase(java.util.Locale.ROOT)))).isDefined
    spark.catalog.dropTempView(name)
    had
  }

  /** The table schema at the latest version, parsed from the
    * manifest's recorded JSON (None for legacy tables without one) —
    * the DML face's type oracle. */
  private[graft] def tableSchemaOf(table: String)
      : Option[org.apache.spark.sql.types.StructType] =
    snapshot(table).flatMap(_.schemaJson).map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Run one SQL statement with the DML face active on any LIVE
    * session (the builder-time path is `GraftExtensions`' injected
    * parser): DML over a registered view translates and commits
    * through the TableLog faces; everything else — SELECTs included —
    * is plain `spark.sql`. */
  def sql(spark: SparkSession, text: String): DataFrame = {
    val plan = org.apache.spark.sql.graft.Bridge.parsePlan(spark, text)
    graft.plans.GraftSqlDml.rewrite(spark, plan)
      .map(org.apache.spark.sql.graft.Bridge.ofRows(spark, _))
      .getOrElse(spark.sql(text))
  }

  /** `scan` pinned at a historical version — declarative time travel:
    * the same manifest pruning and metadata aggregates, against that
    * version's files, schema, and sidecars. */
  def scanVersion(spark: SparkSession, table: String,
      version: Long): DataFrame =
    mkScan(spark, table, snapshotAt(table, version).getOrElse(
      sys.error(s"version $version not found in $table")))

  /** `scan` pinned at a wall-clock instant (see `readAsOf`). */
  def scanAsOf(spark: SparkSession, table: String, tsMs: Long): DataFrame =
    scanVersion(spark, table, versionAsOf(table, tsMs))

  private def mkScan(spark: SparkSession, table: String,
      s: Snapshot): DataFrame =
    s.schemaJson match {
      case None => readSnapshot(spark, table, s)
      case Some(j) =>
        graft.plans.PruneLogScan.install(spark)
        val schema = org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val out = schema.fields.toIndexedSeq.map(f =>
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            f.name, f.dataType, f.nullable)())
        org.apache.spark.sql.graft.Bridge.ofRows(spark,
          graft.plans.GraftLogRelation(table, s, out))
    }

  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame =
    readSnapshot(spark, table, snapshotAt(table, version).getOrElse(
      sys.error(s"version $version not found in $table")))

  private def readSnapshot(spark: SparkSession, table: String,
      s: Snapshot): DataFrame = {
    require(s.files.nonEmpty, s"version ${s.version} of $table is empty")
    morScan(spark, table, s, s.files)
  }

  /** Scan `files` of snapshot `s` with the snapshot's merge-on-read
    * delete sidecars APPLIED: files are grouped into cohorts by which
    * deletes fence to them (a delete at version D applies to files
    * with `ver < D`), each cohort anti-joins the union of its
    * applicable delete-key files per key column, and the cohorts
    * union back. With no pending deletes this IS `scanFiles` — zero
    * overhead on the common path. Cohort count is bounded by distinct
    * delete versions (compaction materializes them away), and each
    * delete-key side is a small scan Spark's AQE broadcasts — the read
    * stays one pass over the data files at 100 TB. */
  private[graft] def morScan(spark: SparkSession, table: String, s: Snapshot,
      files: Seq[FileEntry], meta: Seq[String] = Nil,
      pos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    morFilesPlanned.addAndGet(files.size)
    // positional (deletion-vector) sidecars apply as scan filters, key
    // sidecars as version-cohort anti-joins — split once
    val (dvDels, keyDels) = s.dels.partition(_.keyCol == DvKeyCol)
    def dvFor(fs: Seq[FileEntry]): Seq[DeleteEntry] =
      dvDels.filter(d => fs.exists(f => sidecarFences(s, f, d)))
    def needPos(fs: Seq[FileEntry]): Boolean =
      pos || meta.contains("_pos") || dvFor(fs).nonEmpty
    // pipeline per cohort, all BELOW any anti-join/union where
    // input_file_name is still task-local: the scan projects
    // (__graft_file, __graft_pos) when needed, the DV filter drops
    // vectored positions, the probe columns drop again unless the
    // caller asked for them (`pos` — the positional DML faces), and
    // the catalog metadata columns attach last
    def finish(df: DataFrame, fs: Seq[FileEntry], wp: Boolean)
        : DataFrame = {
      val active = if (wp) dvFor(fs) else Nil
      var d = df
      if (active.nonEmpty) {
        val c = org.apache.spark.sql.graft.Bridge.column(
          graft.functions.DvContains(
            org.apache.spark.sql.graft.Bridge.expression(col(GraftFileCol)),
            org.apache.spark.sql.graft.Bridge.expression(col(GraftPosCol)),
            loadDv(spark, table, active)))
        d = d.where(not(coalesce(c, lit(false))))
      }
      // the `_pos` metadata column = the row's index within its
      // physical file (`_metadata.row_index`), captured here BELOW
      // the DV filter and any anti-join — so survivors keep their
      // original positions exactly (the deletion-vector address
      // space), and `( _file, _pos )` is a stable row identity
      if (meta.contains("_pos"))
        d =
          if (wp) d.withColumn("_pos", col(GraftPosCol))
          else d.withColumn("_pos", lit(null).cast("long")) // empty set
      if (wp && !pos) d = d.drop(GraftFileCol, GraftPosCol)
      attachMeta(d, meta, files)
    }
    def raw(fs: Seq[FileEntry]) = {
      val wp = needPos(fs) && fs.nonEmpty
      finish(scanFiles(spark, s.schemaJson,
        fs.map(f => s"$table/${f.path}"), wp), fs, wp)
    }
    if ((s.dels.isEmpty && s.schemaOps.isEmpty) || files.isEmpty)
      return raw(files)
    val delVers = keyDels.map(_.ver).distinct.sorted
    val opVers = s.schemaOps.map(_.ver).distinct.sorted
    // TWO-TIER cohorts. Tier 1: files NO key sidecar can touch
    // (`sidecarFences` = version fence + write-time key-stat
    // disjointness, per file) take the raw scan — zero anti-joins; on
    // a range-clustered table with narrow MOR deletes that is most of
    // the table. Tier 2: fenced files keep the VERSION-cohort scheme
    // (same applicable-suffix key as ever) — NOT per-file fence sets,
    // which would explode one cohort into one-per-touched-file and
    // trade a single K-sidecar anti-join for K unions (measured 16×
    // worse at 32 scattered sidecars, tools.MorMaintStats). Each
    // cohort additionally drops sidecars stat-disjoint from ALL its
    // files, shrinking the key-union without changing cohort count.
    // O(files × dels) stat comparisons at planning — dels are
    // morMaintain-bounded. Deletion vectors never create cohorts:
    // their filter rides inside whichever cohort scans the target.
    val (fenced, unfenced) = files.partition(f =>
      keyDels.exists(d => sidecarFences(s, f, d)))
    val rawCohorts = unfenced.groupBy(f => opVers.count(_ <= f.ver))
      .toSeq.sortBy(_._1).map { case (_, fs) =>
        val fileVer = fs.map(_.ver).min
        val wp = needPos(fs)
        finish(scanPhysical(spark, table, s, fs,
          s.schemaOps.filter(_.ver > fileVer), wp), fs, wp)
      }
    val delCohorts = fenced.groupBy(f =>
      (delVers.count(_ <= f.ver), opVers.count(_ <= f.ver))).toSeq
      .sortBy(_._1).map { case ((nDel, _), fs) =>
        val fileVer = fs.map(_.ver).min
        val wp = needPos(fs)
        val base = finish(scanPhysical(spark, table, s, fs,
          s.schemaOps.filter(_.ver > fileVer), wp), fs, wp)
        val applicable = delVers.drop(nDel).toSet
        val active = keyDels.filter(d => applicable(d.ver))
          .filter(d => fs.exists(f => sidecarFences(s, f, d)))
        active.groupBy(_.keyCol).foldLeft(base) {
          case (df, (k, des)) =>
            val keys = readSidecars(spark,
              des.map(d => s"$table/${d.file.path}"),
              sidecarHint(s.schemaJson, k))
            // NO .distinct() on the key side: left_anti semantics are
            // unchanged by duplicate build keys (each sidecar is
            // already deduped at write — deleteMor/mergeMor distinct
            // their key set; only cross-sidecar repeats remain), and
            // the distinct's final HashAggregate would sit between the
            // anti-join's Sort and its shuffle stage — the exact shape
            // that stops Spark's OptimizeSkewedJoin from EVER matching
            // (it requires Sort directly over the shuffle on BOTH
            // sides), so a skewed delete key could never be split.
            // Dropping it removes one shuffle+aggregate per cohort read
            // AND makes the hot-key split possible (pinned by
            // ScaleShapeSpec's skew test; measured in tools.OptAudit).
            df.join(keys.select(col(k)), Seq(k), "left_anti")
        }
      }
    (rawCohorts ++ delCohorts).reduce(_ unionByName _)
  }

  /** Attach the requested metadata columns (`_file`, `_version`) to a
    * cohort scan — called AT THE SCAN, under any MOR anti-join or
    * cohort union (file identity is only defined at the file read). A
    * same-named DATA column shadows the metadata one (Spark's own
    * conflict rule), so names already present are skipped. `_version`
    * is an O(1) codegen'd map from the row's file to the manifest
    * version that committed it — the map is the same O(files) driver
    * metadata the snapshot already is.
    *
    * The file identity is `_metadata.file_path`, NOT
    * `input_file_name()`. Same value (the absolute URI of the row's
    * file), but `input_file_name` is a NONDETERMINISTIC expression,
    * and determinism is load-bearing here: Spark's row-level runtime
    * group filter (`RowLevelOperationRuntimeGroupFiltering`) plans a
    * subquery over this read path to collect the `_file` values
    * holding matched rows, and `CleanupDynamicPruningFilters` STRIPS
    * any runtime-pruning filter whose plan is not fully deterministic
    * (`NodeWithOnlyDeterministicProjectAndFilter`). With
    * `input_file_name` in the subquery, every catalog
    * DELETE/UPDATE/MERGE silently lost its runtime narrowing — a
    * MERGE rewrote the WHOLE table however few groups matched. */
  private def attachMeta(df: DataFrame, meta: Seq[String],
      files: Seq[FileEntry]): DataFrame = {
    if (meta.isEmpty) return df
    import org.apache.spark.sql.functions.col
    val fp = col("_metadata.file_path")
    val have = df.columns.toSet
    var d = df
    if (meta.contains("_file") && !have("_file"))
      d = d.withColumn("_file", fp)
    if (meta.contains("_version") && !have("_version"))
      d = d.withColumn("_version", org.apache.spark.sql.graft.Bridge.column(
        graft.functions.FileVersion(
          org.apache.spark.sql.graft.Bridge.expression(fp),
          graft.functions.FileVersionMap(
            files.map(f => f.path -> f.ver)))))
    d
  }

  /** Resolve logical column `name` to the PHYSICAL name a file written
    * before `ops` carries: inverse-apply the ops newest-first —
    * a rename's `to` maps back to its `from`; hitting a DROP of the
    * resolved name means the physical column belongs to a dead
    * incarnation (None → read as null). Symmetrically, hitting a
    * rename FROM the resolved name (without having been redirected
    * into it) means the name was FREED by that rename — the current
    * bearer is a column added after the file was written, so the
    * file's same-named physical column belongs to the RENAMED column,
    * not this one (None — otherwise both the renamed column and its
    * re-added namesake would resolve to one physical column and the
    * old values would resurrect). */
  private[graft] def resolvePhysical(name: String,
      ops: Seq[SchemaOp]): Option[String] = {
    var n = name
    ops.sortBy(-_.ver).foreach { op =>
      if (op.kind == "rename" && op.to == n) n = op.col
      else if (op.kind == "rename" && op.col == n) return None
      else if (op.kind == "drop" && op.col == n) return None
    }
    Some(n)
  }

  /** Scan `fs` under the snapshot's LOGICAL schema with the cohort's
    * applicable schema ops inverse-applied: the parquet read declares
    * each live column under its physical name, then a projection
    * aliases back to logical names and fills dead incarnations with
    * typed nulls. With no applicable ops this is a plain
    * manifest-schema scan. */
  private def scanPhysical(spark: SparkSession, table: String,
      s: Snapshot, fs: Seq[FileEntry], ops: Seq[SchemaOp],
      withPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val paths = fs.map(f => s"$table/${f.path}")
    if (ops.isEmpty || s.schemaJson.isEmpty)
      return scanFiles(spark, s.schemaJson, paths, withPos)
    val logical = org.apache.spark.sql.types.DataType
      .fromJson(s.schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val resolved = logical.fields.map(f =>
      f -> resolvePhysical(f.name, ops))
    val physSchema = org.apache.spark.sql.types.StructType(
      resolved.collect { case (f, Some(p)) => f.copy(name = p) })
    spark.read.schema(physSchema).parquet(paths: _*)
      .select(resolved.map {
        case (f, Some(p)) => col(p).as(f.name)
        case (f, None) => lit(null).cast(f.dataType).as(f.name)
      }.toIndexedSeq ++ posCols(withPos): _*)
  }

  /** The positional probe columns the DV filter and the positional DML
    * faces read — projected AT THE SCAN (task-local expressions).
    * `_metadata.file_path`, NOT `input_file_name()`: the two agree on
    * every value this engine reads (absolute URI of the row's file),
    * but `input_file_name` is declared NONDETERMINISTIC, and one
    * nondeterministic expression anywhere in a subquery plan makes
    * Spark's `CleanupDynamicPruningFilters` strip runtime-pruning
    * filters whose subquery embeds this scan (the row-level runtime
    * group filter — see [[attachMeta]]). */
  private def posCols(withPos: Boolean)
      : Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, substring_index}
    if (!withPos) Nil
    else Seq(
      substring_index(col("_metadata.file_path"), "/", -2)
        .as(GraftFileCol),
      col("_metadata.row_index").as(GraftPosCol))
  }

  /** Scan `paths` under the manifest-recorded schema when present:
    * columns match BY NAME, files written before a column existed read
    * it as null — schema evolution without a footer merge. Legacy
    * manifests (no schema) fall back to footer inference. */
  private def scanFiles(spark: SparkSession, schemaJson: Option[String],
      paths: Seq[String], withPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = schemaJson match {
      case Some(j) => spark.read.schema(
          org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
        .parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
    if (!withPos) base
    else base.select(col("*") +: posCols(withPos): _*)
  }

  /** The evolved table schema for an append: existing columns keep
    * their position, new columns join at the end, and everything is
    * nullable (old files lack new columns; a future append may omit
    * old ones). When the incoming type differs from the recorded one,
    * a SAFE WIDENING resolves to the wider type (`widen`) — old files
    * keep their narrow physical type and the parquet reader upcasts at
    * scan time under the manifest schema, so no data file is ever
    * rewritten (at 100 TB a type change must be a metadata commit, not
    * a table rewrite). Anything outside the lattice is refused
    * descriptively — rewrite the table instead. */
  private[graft] def mergeEvolved(base: org.apache.spark.sql.types.StructType,
      incoming: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val inByName = incoming.fields.map(f => f.name -> f).toMap
    val widenedBase = base.fields.map { bf =>
      inByName.get(bf.name) match {
        case Some(nf) if nf.dataType == bf.dataType => bf
        case Some(nf) => widen(bf.dataType, nf.dataType) match {
          case Some(w) => bf.copy(dataType = w)
          case None => sys.error(
            s"schema evolution cannot change the type of ${bf.name}: " +
              s"${bf.dataType.simpleString} -> ${nf.dataType.simpleString} " +
              "is not a safe widening (byte<short<int<long, float<double, " +
              "int-or-narrower<double)")
        }
        case None => bf
      }
    }
    val baseNames = base.fieldNames.toSet
    org.apache.spark.sql.types.StructType(
      widenedBase.map(_.copy(nullable = true)) ++
        incoming.fields.filterNot(f => baseNames(f.name))
          .map(_.copy(nullable = true)))
  }

  /** The LOSSLESS widening lattice, probed against this Spark build's
    * vectorized parquet reader (tools/WidenProbe — every pair here
    * prints OK; long->double prints FAIL and is excluded as lossy
    * beyond 2^53). Returns the wider of `a`/`b` when the pair is a
    * safe widening in either direction, else None. */
  private[graft] def widen(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    def intRank(t: DataType): Option[Int] = t match {
      case ByteType => Some(1); case ShortType => Some(2)
      case IntegerType => Some(3); case LongType => Some(4)
      case _ => None
    }
    (a, b) match {
      case (x, y) if x == y => Some(x)
      // arrays of the SAME element type unify on containsNull (a
      // nullability flip is not a type change); element WIDENING inside
      // arrays stays refused — the vectorized reader's nested upcast is
      // unprobed (WidenProbe covers scalars only)
      case (ArrayType(xa, n1), ArrayType(xb, n2)) if xa == xb =>
        Some(ArrayType(xa, n1 || n2))
      case (FloatType, DoubleType) | (DoubleType, FloatType) =>
        Some(DoubleType)
      // an integral no wider than int fits double's 52-bit mantissa
      case (DoubleType, t) if intRank(t).exists(_ <= 3) => Some(DoubleType)
      case (t, DoubleType) if intRank(t).exists(_ <= 3) => Some(DoubleType)
      case (x, y) =>
        for (rx <- intRank(x); ry <- intRank(y))
          yield if (rx >= ry) x else y
    }
  }

  private[graft] def snapshotOrFail(table: String): Snapshot =
    snapshot(table).getOrElse(sys.error(s"no committed version in $table"))

  /** The manifest files whose `[min,max]` range for `c` OVERLAPS
    * `[lo,hi]` — plus any file with no stat for `c` (stats are
    * optional per commit; absence must never drop data). Exposed so
    * callers/tests can assert skipping without reading data. */
  def prunedFiles(table: String, c: String, lo: Long, hi: Long)
      : Seq[FileEntry] =
    prunedFilesOf(snapshotOrFail(table), c, lo, hi)

  /** Per-file stat-lookup resolver for logical column `c`: a file's
    * stats are recorded under the PHYSICAL name it was written with,
    * so after a rename the pruners must look the queried column up
    * under each file's own name — otherwise every pre-rename file
    * loses its stats ("absent keeps the file") and a rename silently
    * turns pruned reads into full scans. `None` = the column did not
    * exist when the file was written (dropped or rename-freed
    * incarnation): it reads as null for every row, and null satisfies
    * no range/IN/point predicate, so the file is PROVABLY prunable —
    * the one place resolution strengthens pruning instead of just
    * preserving it. Memoized per op-fence cohort, so the per-file cost
    * stays O(1) on a million-file manifest. */
  private def statNameFor(s: Snapshot, c: String): FileEntry => Option[String] =
    if (s.schemaOps.isEmpty) { _ => Some(c) }
    else {
      val cache = scala.collection.mutable.HashMap[Int, Option[String]]()
      f => cache.getOrElseUpdate(s.schemaOps.count(_.ver > f.ver),
        resolvePhysical(c, s.schemaOps.filter(_.ver > f.ver)))
    }

  private[graft] def prunedFilesOf(s: Snapshot, c: String, lo: Long, hi: Long)
      : Seq[FileEntry] = {
    val phys = statNameFor(s, c)
    s.files.filter(f => phys(f).exists(p =>
      f.stats.find(_.col == p).forall(st => st.max >= lo && st.min <= hi)))
  }

  /** Manifest-level data skipping: scan ONLY the files whose stat range
    * for `c` overlaps `[lo, hi]`, then apply the filter itself (stats
    * prune IO, never semantics — so a stale or absent stat can only
    * cost IO). At 100 TB this is the difference between a full-table
    * scan and an O(matching files) read for range predicates on the
    * clustering column: pair with `zOrder`/range-layout writes so file
    * ranges are tight, and the manifest — not a footer crawl over
    * millions of files — decides what to open. */
  def readWhere(spark: SparkSession, table: String, c: String,
      lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    // ONE snapshot resolution threads through prune + scan: a commit
    // landing mid-call can no longer mix version N's file list with
    // version N+1's schema (snapshot isolation holds per read)
    val s = snapshotOrFail(table)
    val keep = prunedFilesOf(s, c, lo, hi)
    val base =
      if (keep.isEmpty) // filter is disjoint from every file range
        readSnapshot(spark, table, s)
          .where(org.apache.spark.sql.functions.lit(false))
      else morScan(spark, table, s, keep)
    base.where(col(c).between(lo, hi))
  }

  /** File-level change feed between two committed versions: data files
    * are IMMUTABLE, so the manifest diff IS the change feed —
    * `(added, removed)` file lists whose row multisets satisfy
    * vTo = vFrom − removed + added exactly. Reading them costs
    * O(changed files), not O(snapshot): for an append-only interval
    * `removed` is empty and `added` is just the appended files, which
    * is what makes downstream incremental maintenance viable on a
    * 100 TB table (see `readChanges`). */
  def changedFiles(table: String, vFrom: Long, vTo: Long)
      : (Seq[FileEntry], Seq[FileEntry]) = {
    // fast path: an interval of pure append deltas IS the change feed —
    // read O(interval manifests), no snapshot resolution at all (the
    // shape every incremental-maintenance tick hits)
    if (vTo > vFrom) {
      val recs = ((vFrom + 1) to vTo)
        .map(v => parseRec(manifestPath(table, v)))
      if (recs.forall(_.exists(r => r.kind == "delta" &&
          r.removes.isEmpty && r.delAdds.isEmpty)))
        return (recs.flatMap(_.get.adds), Nil)
    }
    // general path (interval crosses a rewrite or a checkpoint):
    // snapshot diff — data files are immutable and never re-added, so
    // the diff is exact
    def snap(v: Long) = snapshotAt(table, v).getOrElse(
      sys.error(s"version $v not found in $table"))
    val (sa, sb) = (snap(vFrom), snap(vTo))
    // a NEW merge-on-read delete inside the interval changes ROWS
    // without changing FILES — a file-level diff cannot represent it.
    // Refuse descriptively: materialize first (compact), or consume
    // the typed CDC feed, which captures MOR deletes as rows. (Dels
    // MATERIALIZED inside the interval are fine: `readChanges` scans
    // the removed side MOR-aware at vFrom, so the identity holds.)
    require((sb.dels.map(_.file.path).toSet --
        sa.dels.map(_.file.path).toSet).isEmpty,
      s"changedFiles($table, $vFrom, $vTo): the interval contains " +
        "merge-on-read delete commits, whose row changes a file-level " +
        "diff cannot represent — compact() to materialize them, or " +
        "consume the typed CDC feed for row-level changes")
    val (a, b) = (sa.files, sb.files)
    val (an, bn) = (a.map(_.path).toSet, b.map(_.path).toSet)
    (b.filterNot(f => an(f.path)), a.filterNot(f => bn(f.path)))
  }

  /** One commit's contribution to a version-ordered stream: its
    * action and the DATA files it ADDED (delta manifests list them
    * directly; full manifests stamp adds with their own version;
    * version 1 — create or clone, whose entries may carry
    * source-stamped versions — is all-new by definition). */
  private[graft] final case class CommitDelta(version: Long,
      action: String, added: Seq[FileEntry])

  /** Per-version manifest deltas over `[max(vFrom,1), vTo]` — the
    * native streaming source's planning primitive: O(versions in the
    * window) manifest parses, no snapshot folds, no filesystem
    * listings beyond the manifest files themselves. A vacuumed
    * manifest inside the window fails with restart guidance (the
    * stream's offset predates retention). */
  private[graft] def commitDeltas(table: String, vFrom: Long,
      vTo: Long): Seq[CommitDelta] =
    (math.max(vFrom, 1L) to vTo).map { v =>
      val r = parseRec(manifestPath(table, v)).getOrElse(sys.error(
        s"commitDeltas($table): manifest $v not found — the version " +
          "was vacuumed past this stream's offset; restart the " +
          "stream from a fresh checkpoint"))
      val added =
        if (v == 1L) { if (r.kind == "full") r.files else r.adds }
        else if (r.kind == "delta") r.adds
        else r.files.filter(_.ver == v)
      CommitDelta(v, r.action, added)
    }

  /** Stream classification of manifest actions: DELIVER (every added
    * file is new rows — the append-only stream payload), LAYOUT (the
    * same rows reshuffled or pure metadata — skipped silently; their
    * adds are rewrites of already-delivered rows), and everything
    * else CHANGES rows in a way an append-only delta cannot
    * represent — refused unless the consumer opts into skipping. */
  private[graft] val streamDeliverActions: Set[String] =
    Set("create", "append", "clone")
  private[graft] val streamLayoutActions: Set[String] =
    Set("compact", "zorder", "mor_materialize", "mor_fold", "schema",
      "check_add", "check_drop", "noop")

  /** The change feed as DataFrames: (addedRows, removedRows) between
    * two versions, scanning ONLY the changed files. Group-aggregate
    * consumers apply it as new = old + agg(added) − agg(removed) —
    * exact for any abelian aggregate (sum/count/…) with no row-level
    * reconciliation needed, because the file multiset identity above
    * holds exactly. Empty sides come back as an empty scan of the
    * vTo snapshot (schema-stable). */
  def readChanges(spark: SparkSession, table: String, vFrom: Long,
      vTo: Long): (DataFrame, DataFrame) = {
    val (added, removed) = changedFiles(table, vFrom, vTo)
    // both sides scan under vTo's schema so the delta unions cleanly
    // with reads of the newer snapshot even across an evolution; the
    // scans go through morScan so vTo's COMPLETE schema-op history
    // resolves each file's physical column names (a rename/drop inside
    // the interval leaves removed — and even some added — files
    // carrying pre-op physical names; a raw by-name scan would read
    // renamed columns as null and resurrect dropped incarnations)
    val sTo = snapshotAt(table, vTo).getOrElse(
      sys.error(s"readChanges($table): version $vTo not found"))
    val schemaJson = sTo.schemaJson
    def empty() = readVersion(spark, table, vTo)
      .where(org.apache.spark.sql.functions.lit(false))
    val addedDf =
      if (added.isEmpty) empty()
      else morScan(spark, table, sTo.copy(dels = Nil), added)
    // the REMOVED side applies vFrom's pending MOR-delete sidecars:
    // rows already logically deleted at vFrom were never part of its
    // multiset, so counting them as "removed" would break the identity
    // when a rewrite inside the interval materialized them away
    val removedDf =
      if (removed.isEmpty) empty()
      else {
        val dels = snapshotAt(table, vFrom).map(_.dels).getOrElse(Nil)
        morScan(spark, table,
          sTo.copy(schemaJson = schemaJson, dels = dels), removed)
      }
    (addedDf, removedDf)
  }

  /** A continuously MAINTAINED materialized aggregate: `mv` holds
    * `keyCols ++ (n, sum_<c>…)` over the current snapshot of `src`,
    * and each `maintainAgg` call refreshes it by applying ONLY the
    * file-level delta since the last refresh —
    * new = old + agg(added files) − agg(removed files), exact for
    * these abelian aggregates by the `readChanges` multiset identity.
    * Refresh cost is O(changed files + |mv|), never a source rescan:
    * the difference between re-aggregating 100 TB per refresh and
    * reading the day's appends. The refreshed source version rides in
    * the mv manifest's txn id (`mv@<srcVersion>`), so the refresh is
    * IDEMPOTENT (a crash-replayed maintain finds its txn committed and
    * skips) and self-describing (no side-channel watermark file).
    * Groups whose count reaches zero leave the mv. Returns the mv
    * version (unchanged when already current). */
  def maintainAgg(spark: SparkSession, src: String, mv: String,
      keyCols: Seq[String], sumCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
    val srcV = latestVersion(src)
    require(srcV > 0, s"maintainAgg: no committed version in $src")
    // the refresh frontier rides the txn high-water index ("mv@" is a
    // structured stream prefix): one manifest read, not a reverse scan
    // over the mv's whole history; a legacy (pre-index) mv chain keeps
    // the authoritative scan
    val lastRefreshed = {
      val mvLatest = latestVersion(mv)
      if (mvLatest == 0) 0L
      else parseRec(manifestPath(mv, mvLatest)) match {
        case Some(r) if r.txnComplete =>
          r.txnHw.get("mv@").map(_._1).getOrElse(0L)
        case _ => (1L to mvLatest).reverse.iterator
          .flatMap(v => parseRec(manifestPath(mv, v)))
          .flatMap(_.txn)
          .collectFirst { case t if t.startsWith("mv@") => t.drop(3).toLong }
          .getOrElse(0L)
      }
    }
    if (srcV == lastRefreshed) return latestVersion(mv)
    def aggOf(df: DataFrame, pre: String): DataFrame =
      df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as(s"${pre}n"),
          sumCols.map(c => sum(col(c)).as(s"$pre$c")): _*)
    val outCols = keyCols.map(col) ++ (("n", "an", "rn") +:
      sumCols.map(c => (s"sum_$c", s"a$c", s"r$c"))).map { case (o, a, r) =>
      (coalesce(col(s"o_$o"), lit(0L)) + coalesce(col(a), lit(0L))
        - coalesce(col(r), lit(0L))).as(o)
    }
    val txn = Some(s"mv@$srcV")
    if (lastRefreshed == 0L) // bootstrap: one full aggregate, then deltas
      append(spark, mv, readVersion(spark, src, srcV)
        .groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("n"),
          sumCols.map(c => sum(col(c)).as(s"sum_$c")): _*), txnId = txn)
    else {
      val (added, removed) = readChanges(spark, src, lastRefreshed, srcV)
      val (aAgg, rAgg) = (aggOf(added, "a"), aggOf(removed, "r"))
      rewrite(spark, mv, "refresh", expectRows = _ => None,
        txnId = txn) { old =>
        old.select(keyCols.map(col) ++
            ("n" +: sumCols.map(c => s"sum_$c"))
              .map(c => col(c).as(s"o_$c")): _*)
          .join(aAgg, keyCols, "full_outer")
          .join(rAgg, keyCols, "full_outer")
          .select(outCols: _*)
          .where(col("n") > 0)
      }
    }
  }

  /** Unsigned-lexicographic UTF-8 byte-order `a <= b`. The string stats
    * were computed by Spark min/max, which orders UTF8String by BINARY
    * bytes; Java String `<=` orders by UTF-16 code units, and the two
    * DISAGREE for supplementary-plane text (emoji: U+FFFF sorts above a
    * surrogate pair in UTF-16 but below its 4-byte UTF-8 encoding), so a
    * UTF-16 prune could wrongly skip a file containing matches. The
    * prune must compare in the order the stats were written. */
  private[graft] def utf8Leq(a: String, b: String): Boolean = {
    val x = a.getBytes(UTF_8); val y = b.getBytes(UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length <= y.length
  }

  /** The manifest files whose STRING range for `c` contains any of
    * `values` — plus any file with no string stat for `c` (absence
    * never drops data). Range containment is decided in UTF-8 byte
    * order, the order the stats were computed in. */
  def prunedFilesIn(table: String, c: String, values: Seq[String])
      : Seq[FileEntry] =
    prunedFilesInOf(snapshotOrFail(table), c, values)

  private[graft] def prunedFilesInOf(s: Snapshot, c: String, values: Seq[String])
      : Seq[FileEntry] = {
    val phys = statNameFor(s, c)
    s.files.filter(f => phys(f).exists(p =>
      f.strStats.find(_.col == p).forall(st =>
        values.exists(v => utf8Leq(st.min, v) && utf8Leq(v, st.max)))))
  }

  /** CATEGORICAL data skipping: scan only the files whose string range
    * for `c` can contain one of `values`, then apply the IN filter
    * itself (stats prune IO, never semantics). Pair with a
    * `repartitionByRange(col(c))` write layout so each file covers a
    * tight value range — partition-style pruning WITHOUT a partition
    * directory layout, so the files stay self-contained (the column is
    * in the data, not the path) and the manifest stays one flat list.
    * At 100 TB this is how per-language / per-source slices of a
    * training corpus read only their share of the lake. */
  def readWhereIn(spark: SparkSession, table: String, c: String,
      values: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    // single snapshot resolution — same isolation reasoning as readWhere
    val s = snapshotOrFail(table)
    val keep = prunedFilesInOf(s, c, values)
    val base =
      if (keep.isEmpty)
        readSnapshot(spark, table, s)
          .where(org.apache.spark.sql.functions.lit(false))
      else morScan(spark, table, s, keep)
    base.where(col(c).isin(values: _*))
  }

  /** LONG twin of `prunedFilesIn`: files whose [min,max] long range for
    * `c` contains any of `values` (absent stat keeps the file). */
  def prunedFilesInLong(table: String, c: String, values: Seq[Long])
      : Seq[FileEntry] =
    prunedFilesInLongOf(snapshotOrFail(table), c, values)

  private[graft] def prunedFilesInLongOf(s: Snapshot, c: String, values: Seq[Long])
      : Seq[FileEntry] = {
    val phys = statNameFor(s, c)
    s.files.filter(f => phys(f).exists(p =>
      f.stats.find(_.col == p).forall(st =>
        values.exists(v => st.min <= v && v <= st.max))))
  }

  /** LONG twin of `readWhereIn`: scan only files whose long stat range
    * for `c` can contain one of `values`, then apply the IN filter (stats
    * prune IO, never semantics). Pair with a `repartitionByRange(col(c))`
    * layout — how a cell-keyed index (e.g. the semantic dedup index)
    * reads only the probed cells' share of the table. */
  /** Files whose bloom stat for `c` may contain `v` (files without one
    * are kept — stats prune IO, never semantics). */
  def prunedFilesPoint(spark: SparkSession, table: String, c: String,
      v: Any): Seq[FileEntry] =
    prunedFilesPointOf(snapshotOrFail(table), spark, c, v)

  private[graft] def prunedFilesPointOf(s: Snapshot, spark: SparkSession,
      c: String, v: Any): Seq[FileEntry] = {
    // positions depend on the stat's own (m, k): one tiny plan per
    // distinct sizing present in the snapshot (normally exactly one)
    val posFor = scala.collection.mutable.HashMap[(Int, Int), Seq[Int]]()
    val phys = statNameFor(s, c)
    s.files.filter(f => phys(f).exists(p =>
      f.strStats.find(_.col == bloomStatName(p)).forall { st =>
        val Array(m, k) = st.max.split(",", 2).map(_.toInt)
        bloomMayContain(st.min,
          posFor.getOrElseUpdate((m, k), bloomPositions(spark, v, m, k)))
      }))
  }

  /** Point-lookup read through the manifest bloom stats: scan only the
    * files whose bloom may contain `c = v`, then apply the equality
    * filter itself. The value's TYPE must match the column's (the probe
    * hashes the typed value exactly as the builder did). On an
    * unclustered high-cardinality key this prunes where `readWhere`'s
    * range stats cannot — the difference between opening every file and
    * opening the one or two that can hold the key. An absent bloom
    * (file written without `bloomStatsCols`, e.g. by an old commit or a
    * rewrite that didn't rebuild them) keeps the file. Prune and scan
    * resolve ONE snapshot — no torn read across a racing commit. */
  def readWherePoint(spark: SparkSession, table: String, c: String,
      v: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val s = snapshotOrFail(table)
    val keep = prunedFilesPointOf(s, spark, c, v)
    if (keep.isEmpty)
      // every file's bloom excludes v: provably no matching row
      return scanFiles(spark, s.schemaJson,
        s.files.take(1).map(f => s"$table/${f.path}"))
        .where(lit(false))
    morScan(spark, table, s, keep)
      .where(col(c) === lit(v))
  }

  def readWhereInLong(spark: SparkSession, table: String, c: String,
      values: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val s = snapshotOrFail(table)
    val keep = prunedFilesInLongOf(s, c, values)
    val base =
      if (keep.isEmpty)
        readSnapshot(spark, table, s)
          .where(org.apache.spark.sql.functions.lit(false))
      else morScan(spark, table, s, keep)
    base.where(col(c).isin(values: _*))
  }

  /** Append `df`: new data files + the base snapshot's file list. The
    * CAS retry re-reads the file list only — the written files are
    * immutable and reusable across retries, so concurrent appends all
    * succeed, serialized by version. Returns the committed version. */
  def append(spark: SparkSession, table: String, df: DataFrame,
      statsCols: Seq[String] = Nil, txnId: Option[String] = None,
      strStatsCols: Seq[String] = Nil,
      counterDelta: Map[String, Long] = Map.empty,
      bloomStatsCols: Seq[String] = Nil,
      counterPin: Map[String, Long] = Map.empty): Long = {
    // `counterPin`: SET-semantics counters for structural constants (an
    // index's sign-bit width, its pinned codebook version) — set when
    // absent, ASSERTED equal when present. Summing a pin like an
    // additive delta (the old failure mode: re-running an index build,
    // or two racing cold-start batches, doubled the pinned value) makes
    // every later probe block with the wrong constant — zero recall, no
    // error. The assert runs INSIDE the CAS loop against the freshly
    // re-read base, so the losing racer fails LOUDLY instead.
    require(counterDelta.keySet.intersect(counterPin.keySet).isEmpty,
      s"append to $table: ${counterDelta.keySet.intersect(counterPin.keySet)}" +
        " passed as both additive delta and pin")
    // idempotence: if this transaction already committed (a replayed
    // streaming micro-batch after a crash-restart), do nothing — the
    // manifest chain IS the transaction log. O(versions) scan; a
    // long-running ingest can vacuum old versions to bound it.
    txnId.flatMap(committedTxnVersion(table, _)).foreach(return _)
    // CHECK constraints gate the batch BEFORE any data file is written
    // (snapshot-isolated: the set as of the append's start)
    snapshot(table).foreach(b =>
      enforceChecks(spark, table, b.checks, df, "append"))
    val (newFiles, newRows) =
      writeDataFiles(spark, table, df, statsCols, strStatsCols,
        bloomStatsCols)
    // the commit re-reads the base per attempt; a racing writer may
    // have committed the same txn while we wrote
    val landed = commit(table, txnId) { (base, _) =>
      val evolved = appendSchema(table, base, df.schema, "append",
        "published feed links still carry the old incarnation under " +
          "that name and would resurrect its values by name; use a " +
          "fresh column name")
      // cumulative counters: merged INSIDE the CAS loop so a racing
      // append's contribution is never lost (the loser re-reads base)
      val bc = base.map(_.counters).getOrElse(Map.empty[String, Long])
      val counters = bc ++ counterDelta.map { case (k, d) =>
        k -> (bc.getOrElse(k, 0L) + d) } ++ counterPin.map { case (k, p) =>
        bc.get(k).foreach(v => require(v == p,
          s"append to $table: pinned counter '$k' is $v but this writer " +
            s"expects $p — a pin records a structural constant and cannot " +
            "be changed by an append (rebuild the table, or swing it via " +
            "rewrite's counterSet)"))
        k -> p
      }
      // an append commits O(appended files): a delta manifest, except
      // on the checkpoint cadence
      Some(Change(if (base.isEmpty) "create" else "append",
        base.map(_.rows).getOrElse(0L) + newRows, evolved, counters,
        adds = newFiles))
    }
    // change-feed publication: heals any crashed prior publish too. A
    // crash between the commit above and this publish is the same
    // window — healed by the NEXT append (or an explicit publishFeed).
    if (landed.fresh && feedEnabled(table)) publishFeed(spark, table)
    landed.version
  }

  /** The schema an append-shaped commit records over `base`: the
    * recorded schema evolved by `incoming` (`mergeEvolved`); a legacy
    * table (no recorded schema) stays legacy — recording only the
    * append's schema would claim columns the old files were never
    * checked against. On FEED tables, refuses re-adding a name a schema
    * op freed (rename-from or drop): already-published links physically
    * carry the old incarnation under that name, and the feed's by-name
    * declared-schema read has no per-file version fence — the dead
    * values would resurrect for any consumer reading after the re-add.
    * Table reads fence per cohort; feed links cannot. (Fresh names are
    * fine — old links read them as null.) `what`/`why` frame the
    * refusal. */
  private def appendSchema(table: String, base: Option[Snapshot],
      incoming: org.apache.spark.sql.types.StructType, what: String,
      why: String): Option[String] = {
    def structOf(j: String) = org.apache.spark.sql.types.DataType
      .fromJson(j).asInstanceOf[org.apache.spark.sql.types.StructType]
    val evolved = base.flatMap(_.schemaJson) match {
      case Some(j) => Some(mergeEvolved(structOf(j), incoming).json)
      case None if base.isEmpty => Some(incoming.json)
      case None => None
    }
    if (feedEnabled(table)) base.foreach { b =>
      val baseNames = b.schemaJson.map(structOf(_).fieldNames.toSet)
        .getOrElse(Set.empty[String])
      val freed = b.schemaOps.map(_.col).toSet
      val readd = incoming.fieldNames.filterNot(baseNames).filter(freed)
      require(readd.isEmpty,
        s"$what to feed-enabled $table: column(s) ${readd.mkString(", ")} " +
          s"re-add a name a schema op freed — $why")
    }
    evolved
  }

  /** The version that committed `txnId`, if any. O(1) on the hot path:
    * the LATEST manifest's txn high-water map answers structured ids
    * (`<stream>#<n>` / `<stream>@<n>`) in one small-file read —
    * n == high-water hits exactly, n above it is provably uncommitted
    * (the index never regresses), n below it means "committed at some
    * older version" and pays the reverse scan only on that rare
    * stale-replay shape. Opaque ids and legacy (pre-index) chains
    * keep the authoritative O(versions) scan. The append path calls
    * this twice per commit — at 100k retained versions the scan was
    * ~200k manifest parses per micro-batch; the indexed path is 1. */
  def committedTxnVersion(table: String, txnId: String): Option[Long] = {
    val latest = latestVersion(table)
    if (latest == 0) return None
    def scan(hi: Long): Option[Long] = (1L to hi).reverse.iterator
      .flatMap(v => parseRec(manifestPath(table, v)))
      .find(_.txn.contains(txnId)).map(_.version)
    parseRec(manifestPath(table, latest)) match {
      case Some(r) if r.txnComplete =>
        if (r.txn.contains(txnId)) Some(latest)
        else parseTxnSeq(txnId) match {
          case Some((stream, n)) => r.txnHw.get(stream) match {
            case Some((hn, hv)) =>
              if (n == hn) Some(hv)
              else if (n > hn) None
              else scan(latest - 1) // older than the frontier: rare
            case None => None // indexed chain, stream never committed
          }
          case None => scan(latest - 1) // opaque id: unindexed
        }
      case _ => scan(latest) // legacy chain: only the scan is authoritative
    }
  }

  /** Create (version 1) — append on an empty table, named for intent,
    * and ENFORCED: re-running a build against a table that already has
    * committed versions would merge its counter deltas into the
    * existing totals (docs doubled, pins corrupted) instead of starting
    * the accounting — refuse loudly. (The check is a fast-path guard;
    * a writer racing between check and commit is still caught by the
    * CAS loop's pin assert.) */
  def create(spark: SparkSession, table: String, df: DataFrame,
      statsCols: Seq[String] = Nil, strStatsCols: Seq[String] = Nil,
      counterDelta: Map[String, Long] = Map.empty,
      bloomStatsCols: Seq[String] = Nil,
      counterPin: Map[String, Long] = Map.empty): Long = {
    require(latestVersion(table) == 0L,
      s"create($table): table already has ${latestVersion(table)} committed " +
        "version(s) — create commits version 1 only; use append, or point " +
        "the build at a fresh table")
    append(spark, table, df, statsCols, strStatsCols = strStatsCols,
      counterDelta = counterDelta, bloomStatsCols = bloomStatsCols,
      counterPin = counterPin)
  }

  /** The row count and cumulative counters recorded in version `v`'s
    * manifest — one small-file read, NO data scan and no delta-chain
    * resolution (`rows`/`counters` are stored denormalized in every
    * record). The scale-correct way to answer "how big is the table /
    * what has been ingested" after a commit. */
  def commitStats(table: String, version: Long): Option[(Long, Map[String, Long])] =
    parseRec(manifestPath(table, version)).map(r => (r.rows, r.counters))

  /** Metadata-only commit: a new version with NO data-file changes —
    * rows, schema, and counters carry over verbatim. Exists so log
    * machinery can be exercised/measured at commit-history scale
    * (LogStats grows a 10k-version chain in seconds) without paying a
    * Spark write per version; checkpoints still land on cadence so
    * resolution stays bounded. Goes through the same CAS gate as every
    * commit (ts + txn index stamped there). */
  private[graft] def commitMetadataOnly(table: String,
      txnId: Option[String] = None): Long = {
    txnId.flatMap(committedTxnVersion(table, _)).foreach(return _)
    commit(table, txnId) { (b, _) =>
      require(b.nonEmpty, s"commitMetadataOnly: no committed version in $table")
      b.map(base => Change("noop", base.rows, base.schemaJson, base.counters))
    }.version
  }

  /** Rename a column — PURE METADATA, zero data-file rewrites (at
    * 100 TB a rename must be a manifest commit, not a table rewrite):
    * commits a new schema plus a `SchemaOp` whose version fences which
    * files still carry the old physical name; reads resolve per file
    * cohort (`scanPhysical`). Appends after the rename use the new
    * name (the evolved schema refuses the old one back as a widening
    * conflict only if types clash — re-adding the OLD name later is a
    * legal new column, and old files' physical values do NOT leak into
    * it: the rename op redirects them, and `resolvePhysical`'s drop
    * fencing covers the drop-then-re-add shape). Refused on
    * feed-enabled tables (already-linked feed files carry the old
    * physical name and would read as null downstream) and while a
    * pending MOR delete sidecar keys on the column (compact first).
    * Range/bloom stats recorded under the old name no longer match the
    * new — affected files simply stop pruning (stats prune IO, never
    * semantics); fresh writes record stats under the new name. */
  def renameColumn(spark: SparkSession, table: String, from: String,
      to: String): Long =
    schemaOpCommit(spark, table, "rename", from, to) { logical =>
      require(logical.fieldNames.contains(from),
        s"renameColumn($table): no column '$from'")
      require(!logical.fieldNames.contains(to),
        s"renameColumn($table): column '$to' already exists")
      org.apache.spark.sql.types.StructType(logical.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
    }

  /** Drop a column — pure metadata like `renameColumn`. Old files keep
    * the physical column; reads exclude it by schema, and if a
    * same-named column is ever RE-ADDED, the drop op's version fence
    * keeps the dead incarnation's values out (they read as null) —
    * the resurrection hazard of by-name parquet reads. Allowed on
    * feed tables (narrowing reads drop the column on old links too);
    * refused while a pending MOR sidecar keys on the column. */
  def dropColumn(spark: SparkSession, table: String, c: String): Long =
    schemaOpCommit(spark, table, "drop", c, "") { logical =>
      require(logical.fieldNames.contains(c),
        s"dropColumn($table): no column '$c'")
      require(logical.fields.length > 1,
        s"dropColumn($table): cannot drop the only column")
      org.apache.spark.sql.types.StructType(
        logical.fields.filterNot(_.name == c))
    }

  /** One aggregate pass over `df` counting violations per active CHECK
    * constraint (violation = expression FALSE; NULL passes — SQL CHECK
    * semantics); any violation refuses the whole write with the
    * constraint's name and count. O(batch), map-side combined, before
    * a single data file is referenced by a manifest. */
  private def enforceChecks(spark: SparkSession, table: String,
      checks: Seq[(String, String)], df: DataFrame, what: String): Unit = {
    if (checks.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
    val aggs = checks.map { case (n, e) =>
      sum(when(!coalesce(expr(e), lit(true)), 1L).otherwise(0L)).as(n) }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    checks.zipWithIndex.foreach { case ((n, e), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      require(bad == 0, s"$what to $table violates CHECK constraint " +
        s"'$n' ($e): $bad row(s) — not committing")
    }
  }

  // (the staged-output twin of enforceChecks is gone: the faces whose
  //  rows are landed before the driver sees a frame — the row-level
  //  ReplaceData/WriteDelta commits, replaceWhere's slice, an INSERT
  //  OVERWRITE — now ride their CHECKs on the staged stats pass as
  //  [[StagedAudit]]s, so a constrained write costs ONE scan)

  /** Register a named CHECK constraint — a boolean SQL expression every
    * row of every future row-adding commit (append/appendStream, COW
    * merge/update, mergeUpsert, INSERT OVERWRITE, replaceWhere, the
    * vanilla-session row-level UPDATE/MERGE) must satisfy, enforced as one
    * violation-counting aggregate before any manifest references the
    * batch. EXISTING rows are validated first (one table scan — the
    * ADD CONSTRAINT contract), so a committed constraint certifies the
    * whole table, past and future. Metadata-only commit; the current
    * set rides complete in every manifest, so enforcement is a
    * manifest lookup at 100 TB, and time travel sees each version's
    * own set. Snapshot-isolated: a write that began before the
    * constraint committed validates against the set it saw. */
  def addCheckConstraint(spark: SparkSession, table: String, name: String,
      check: String): Long = {
    require(name.nonEmpty && !name.contains(";") && !name.contains("\n"),
      s"addCheckConstraint($table): invalid constraint name '$name'")
    commitOn(table) { (base, _) =>
      require(!base.checks.exists(_._1 == name),
        s"addCheckConstraint($table): constraint '$name' already exists")
      // an EMPTY table (e.g. a just-created catalog table adding its
      // inline CHECK) validates against a zero-row schema-true frame:
      // nothing to scan, but an unresolvable predicate still refuses
      // at ADD instead of at the first write
      val existing =
        if (base.files.nonEmpty || base.schemaJson.isEmpty)
          readSnapshot(spark, table, base)
        else spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.DataType
            .fromJson(base.schemaJson.get)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
      enforceChecks(spark, table, Seq(name -> check),
        existing, "addCheckConstraint: existing data")
      Some(Change("check_add", base.rows, base.schemaJson, base.counters,
        ckAdd = Some(name -> check)))
    }.version
  }

  /** Drop a CHECK constraint by name — metadata-only commit. */
  def dropCheckConstraint(table: String, name: String): Long =
    commitOn(table) { (base, _) =>
      require(base.checks.exists(_._1 == name),
        s"dropCheckConstraint($table): no constraint '$name'")
      Some(Change("check_drop", base.rows, base.schemaJson, base.counters,
        ckDrop = Some(name)))
    }.version

  /** ADD a nullable column — PURE METADATA, the explicit half of the
    * additive evolution lattice (`mergeEvolved` commits the same
    * schema when an append's frame first carries the column): one
    * delta manifest with the field appended; zero data files change,
    * old files lack the physical column and read as typed nulls
    * (parquet clipping). Re-adding a previously DROPPED name is legal
    * and safe — the drop op's version fence keeps the dead
    * incarnation's stored values out of the new column
    * (`resolvePhysical`). Non-nullable adds refuse: existing rows
    * have no value to satisfy the constraint. No `SchemaOp` is
    * recorded (adds need no per-file physical redirection). */
  def addColumn(spark: SparkSession, table: String, name: String,
      dataType: org.apache.spark.sql.types.DataType,
      nullable: Boolean = true): Long = {
    require(nullable, s"addColumn($table, $name): a non-nullable add " +
      "is unsatisfiable on existing rows — add nullable, backfill, " +
      "then enforce with a CHECK constraint")
    commitOn(table) { (base, _) =>
      require(base.schemaJson.nonEmpty,
        s"addColumn on $table: legacy table without a recorded " +
          "schema — rewrite it once to record one")
      val logical = org.apache.spark.sql.types.DataType
        .fromJson(base.schemaJson.get)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      require(!logical.fieldNames.contains(name),
        s"addColumn($table): column '$name' already exists")
      val evolved = org.apache.spark.sql.types.StructType(
        logical.fields :+ org.apache.spark.sql.types.StructField(
          name, dataType, nullable = true))
      Some(Change("schema", base.rows, Some(evolved.json), base.counters))
    }.version
  }

  /** WIDEN a column's type — PURE METADATA, the explicit half of the
    * lossless widening lattice [[widen]] (the implicit half is
    * `mergeEvolved`, which commits the same schema when an append's
    * frame first arrives wider): one delta manifest with the field's
    * type replaced; zero data files change, and reads apply the
    * widened schema over the old files' narrower physical types (the
    * probed vectorized-reader upcast — `tools/WidenProbe`, oracled by
    * `o41_type_widening`). Anything outside the lattice — narrowing,
    * cross-family changes — refuses with guidance: those need a full
    * rewrite. Refused while a pending MOR delete sidecar keys on the
    * column (its stored key values carry the old type). Routed from
    * `ALTER TABLE … ALTER COLUMN … TYPE` by the catalog. */
  def widenColumnType(spark: SparkSession, table: String, name: String,
      to: org.apache.spark.sql.types.DataType): Long =
    commitOn(table) { (base, _) =>
      require(base.schemaJson.nonEmpty,
        s"widenColumnType on $table: legacy table without a recorded " +
          "schema — rewrite it once to record one")
      val logical = org.apache.spark.sql.types.DataType
        .fromJson(base.schemaJson.get)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val idx = logical.fieldNames.indexOf(name)
      require(idx >= 0, s"widenColumnType($table): no column '$name'")
      val cur = logical.fields(idx).dataType
      // already that type: nothing to commit
      Option.when(cur != to) {
        require(widen(cur, to).contains(to),
          s"widenColumnType($table, $name): ${cur.simpleString} -> " +
            s"${to.simpleString} is not a lossless widening " +
            "(byte<short<int<long, float<->double, int-or-narrower<" +
            "double) — narrowing or cross-family changes need a full " +
            "table rewrite")
        base.dels.find(_.keyCol == name).foreach(d => sys.error(
          s"widenColumnType($table, $name): a pending merge-on-read " +
            s"delete sidecar (v${d.ver}) keys on this column — " +
            "compact() to materialize it first"))
        val evolved = org.apache.spark.sql.types.StructType(
          logical.fields.updated(idx,
            logical.fields(idx).copy(dataType = to)))
        Change("schema", base.rows, Some(evolved.json), base.counters)
      }
    }.version

  private def schemaOpCommit(spark: SparkSession, table: String,
      kind: String, colName: String,
      to: String)(evolve: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType): Long = {
    require(kind == "drop" || !feedEnabled(table),
      s"renameColumn on feed-enabled table $table: already-linked feed " +
        "files carry the old physical name and would read as null — " +
        "disable the feed (or re-seed consumers) first")
    commitOn(table) { (base, version) =>
      require(base.schemaJson.nonEmpty,
        s"$kind on $table: legacy table without a recorded schema — " +
          "rewrite it once to record one")
      base.dels.find(_.keyCol == colName).foreach(d => sys.error(
        s"$kind($table, $colName): a pending merge-on-read delete " +
          s"sidecar (v${d.ver}) keys on this column — compact() to " +
          "materialize it first"))
      // a CHECK constraint referencing the column would silently stop
      // constraining (rename) or fail every future write (drop)
      base.checks.foreach { case (n, e) =>
        val refs = org.apache.spark.sql.graft.Bridge
          .parseExpression(spark, e).collect {
            case ua: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => ua.nameParts.head
          }.toSet
        require(!refs.contains(colName),
          s"$kind($table, $colName): CHECK constraint '$n' ($e) " +
            "references this column — drop the constraint first")
      }
      val logical = org.apache.spark.sql.types.DataType
        .fromJson(base.schemaJson.get)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val evolved = evolve(logical)
      // metadata-only commit: no file changes; the gate folds the op
      // into the carried history
      Some(Change("schema", base.rows, Some(evolved.json), base.counters,
        schemaOps = Seq(SchemaOp(version, kind, colName, to))))
    }.version
  }

  /** Wall-clock commit timestamp (epoch millis) recorded in version
    * `v`'s manifest — one small-file read. 0 on pre-timestamp legacy
    * manifests. */
  def commitTimestamp(table: String, version: Long): Option[Long] =
    parseRec(manifestPath(table, version)).map(_.tsMs)

  /** The newest committed version whose commit timestamp is at or
    * before `tsMs` — "the table as of yesterday 09:00" resolved to a
    * version number. Commit timestamps are stamped strictly monotonic
    * at the commit gate (`commit`), so ts order = version order and
    * the resolution is a BINARY SEARCH over the retained version
    * range: O(log versions) manifest reads, never a full log scan —
    * on a 100k-commit ingest history that is ~17 small-file reads.
    * Fails descriptively when `tsMs` predates the earliest RETAINED
    * version (vacuum dropped the history that would answer it) and
    * when it predates version 1 of a never-vacuumed table. Legacy
    * pre-timestamp manifests (ts=0) sort before every stamped commit:
    * a query inside the legacy range resolves to the newest legacy
    * version only if no stamped version qualifies. */
  def versionAsOf(table: String, tsMs: Long): Long = {
    val latest = latestVersion(table)
    require(latest > 0, s"versionAsOf: no committed version in $table")
    // earliest RETAINED manifest bounds the searchable range (vacuum
    // drops prefixes; the listing exists — latestVersion just read it)
    val earliest = listDir(logDir(table))
      .map(_.getFileName.toString)
      .collect { case n if n.matches("v\\d{8}\\.manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
      .min
    def ts(v: Long): Long =
      parseRec(manifestPath(table, v)).map(_.tsMs).getOrElse(
        sys.error(s"versionAsOf: manifest v$v of $table unreadable"))
    require(ts(earliest) <= tsMs, {
      val e = ts(earliest)
      s"versionAsOf($table, $tsMs): timestamp predates the earliest " +
        (if (earliest == 1) s"commit (v1 at $e)"
         else s"RETAINED version (v$earliest at $e — older history was " +
           "vacuumed)")
    })
    // invariant: ts(lo) <= tsMs; answer = largest such version
    var lo = earliest; var hi = latest
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (ts(mid) <= tsMs) lo = mid else hi = mid - 1
    }
    lo
  }

  /** Timestamp time travel: the table as of wall-clock `tsMs`. */
  def readAsOf(spark: SparkSession, table: String, tsMs: Long): DataFrame =
    readVersion(spark, table, versionAsOf(table, tsMs))

  /** `versionAsOf`'s complement for the CDC faces: the SMALLEST
    * retained version whose commit timestamp is AT OR AFTER `tsMs` —
    * "the first change from ts onward" (`startingTimestamp`), where
    * versionAsOf answers "the table AS OF ts". Same O(log versions)
    * binary search over the monotonic commit timestamps. A ts past
    * the newest commit returns latest+1 — an EMPTY window, the
    * stream's "from now" made timestamp-shaped, never an error (the
    * caller is subscribing to the future). A ts at or before the
    * earliest RETAINED version's stamp refuses when history was
    * vacuumed (earliest > 1): versions below the retention floor may
    * also satisfy it, and resolving to `earliest` would SILENTLY
    * skip their changes — the same loud-over-partial posture as the
    * feed floor fence. On a never-vacuumed table it resolves to 1. */
  private[graft] def versionAtOrAfter(table: String, tsMs: Long): Long = {
    val latest = latestVersion(table)
    require(latest > 0, s"versionAtOrAfter: no committed version in $table")
    val earliest = listDir(logDir(table))
      .map(_.getFileName.toString)
      .collect { case n if n.matches("v\\d{8}\\.manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
      .min
    def ts(v: Long): Long =
      parseRec(manifestPath(table, v)).map(_.tsMs).getOrElse(
        sys.error(s"versionAtOrAfter: manifest v$v of $table unreadable"))
    if (tsMs > ts(latest)) return latest + 1
    if (tsMs <= ts(earliest)) {
      require(earliest == 1,
        s"versionAtOrAfter($table, $tsMs): timestamp is at or before " +
          s"the earliest RETAINED version (v$earliest at " +
          s"${ts(earliest)} — older history was vacuumed); changes " +
          "from vacuumed versions cannot be served — start at " +
          s"version $earliest or later, or use startingVersion")
      return 1L
    }
    // invariant: ts(hi) >= tsMs; answer = smallest such version
    var lo = earliest; var hi = latest
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ts(mid) >= tsMs) hi = mid else lo = mid + 1
    }
    hi
  }

  // ===== Version tags (named refs, vacuum-protected) ===================

  private def tagsDir(table: String): Path = Paths.get(table, "_tags")
  private def tagPath(table: String, tag: String): Path = {
    require(tag.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,127}"),
      s"tag name '$tag': letters/digits/._- only (max 128, no leading .)")
    tagsDir(table).resolve(tag)
  }

  /** Pin a NAME to a version — `release-2026-08`, `eval-baseline`:
    * the human-meaningful time-travel handle, readable via
    * `readTag`/`scanTag` and from SQL as `VERSION AS OF '<tag>'` on a
    * registered view. A tagged version is PROTECTED FROM VACUUM along
    * with its checkpoint-granular manifest chain and every data file
    * it references (the retention union includes each tag's interval),
    * so a tag is a durability promise, not just a bookmark — delete
    * the tag to release the history. Tags are per-table refs: a
    * clone does not carry them. Re-pointing an existing tag requires
    * `replace = true`; the write is atomic (tmp + create-exclusive
    * link, move on replace), so a concurrent reader sees the old or
    * the new version, never a torn file. */
  def tagVersion(table: String, tag: String, version: Long,
      replace: Boolean = false): Unit = {
    require(snapshotAt(table, version).nonEmpty,
      s"tagVersion($table, '$tag'): version $version does not resolve")
    Files.createDirectories(tagsDir(table))
    val p = tagPath(table, tag)
    if (!replace && Files.exists(p)) sys.error(
      s"tag '$tag' already exists in $table (→ v${resolveTag(table, tag)})" +
        " — pass replace = true to re-point it")
    val tmp = Files.createTempFile(tagsDir(table), ".tmp-tag-", "")
    Files.writeString(tmp, version.toString, UTF_8)
    try {
      if (replace)
        Files.move(tmp, p,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      else {
        try Files.createLink(p, tmp)
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          sys.error(s"tag '$tag' already exists in $table — pass " +
            "replace = true to re-point it")
        }
        Files.deleteIfExists(tmp)
      }
    } finally { Files.deleteIfExists(tmp); () }
  }

  /** Every tag of the table, name → version. */
  def tags(table: String): Map[String, Long] = {
    val d = tagsDir(table)
    if (!Files.isDirectory(d)) return Map.empty
    listDir(d)
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap { p =>
        try Some(p.getFileName.toString ->
          Files.readString(p, UTF_8).trim.toLong)
        catch { case _: java.io.IOException |
            _: NumberFormatException => None }
      }.toMap
  }

  /** The version a tag names (error if absent). */
  def resolveTag(table: String, tag: String): Long =
    tags(table).getOrElse(tag, sys.error(
      s"tag '$tag' not found in $table — tags: " +
        s"${tags(table).keys.toSeq.sorted.mkString(", ")}"))

  /** Drop a tag — releases its vacuum protection; the history it
    * pinned becomes reclaimable by the NEXT vacuum. */
  def deleteTag(table: String, tag: String): Boolean =
    Files.deleteIfExists(tagPath(table, tag))

  /** Eager / declarative reads at a tag. */
  def readTag(spark: SparkSession, table: String, tag: String): DataFrame =
    readVersion(spark, table, resolveTag(table, tag))
  def scanTag(spark: SparkSession, table: String, tag: String): DataFrame =
    scanVersion(spark, table, resolveTag(table, tag))

  /** ZERO-COPY table clone: hard-links every data file and MOR sidecar
    * of `src`'s current snapshot into `dst` and commits dst's FIRST
    * manifest as a full snapshot carrying src's schema, schema-op
    * history, sidecars, CHECK constraints, and counters — O(files)
    * metadata and directory entries, zero bytes copied (the same inode
    * trick as the change feed, at table scale: links pin inodes, so
    * either side's vacuum deletes only its own directory entries and
    * can never free bytes the other still references). The clones then
    * evolve fully independently.
    *
    * dst's first manifest keeps SRC'S VERSION NUMBER (not v1): every
    * internal fence — sidecar ver > fenced file ver, schema-op ver >
    * file ver — is a comparison against `FileEntry.ver`, and dst's
    * future commits must sort AFTER all of them. The log tolerates a
    * missing version prefix everywhere a clone needs it to (vacuum
    * floors at the newest full manifest, history/versionAsOf skip
    * unparseable versions, time travel below the clone point answers
    * "not found"). Cross-device targets fall back to a real copy per
    * file. Refused if `dst` already has a log. */
  def cloneTable(spark: SparkSession, src: String, dst: String): Long = {
    val s = snapshotOrFail(src)
    require(!Files.isDirectory(logDir(dst)) ||
        listDir(logDir(dst)).isEmpty,
      s"cloneTable: $dst already has a commit log")
    (s.files.map(_.path) ++ s.dels.map(_.file.path)).distinct
      .foreach(linkOrCopy(src, dst, _))
    Files.createDirectories(logDir(dst))
    // dst's first manifest keeps src's version number and has no
    // predecessor to chain onto: it starts a fresh, complete txn index
    // (no prior writers in dst) and carries src's schema-op history and
    // CHECK set whole
    val r = ManifestRec(s.version, s.version - 1, "clone", s.rows, "full",
      s.files, Nil, Nil, s.dels, Nil, None, s.schemaJson, s.counters,
      tsMs = System.currentTimeMillis, txnComplete = true,
      schemaOps = s.schemaOps, checks = s.checks)
    require(primitiveFor(dst).putIfAbsent(manifestPath(dst, s.version),
        renderManifest(r).getBytes(UTF_8)),
      s"cloneTable: a concurrent clone already committed $dst")
    s.version
  }

  /** Hard-link table-relative `rel` from table root `src` into `dst`
    * (zero copy: links pin inodes, so either side's vacuum deletes only
    * its own directory entry), degrading to a real copy across devices.
    * An existing target is left alone. */
  private def linkOrCopy(src: String, dst: String, rel: String): Unit = {
    val from = Paths.get(src, rel)
    val to = Paths.get(dst, rel)
    if (!Files.exists(to)) {
      Files.createDirectories(to.getParent)
      try Files.createLink(to, from)
      catch { case _: UnsupportedOperationException |
          _: java.nio.file.FileSystemException =>
        Files.copy(from, to) // cross-device: degrade to a real copy
      }
    }
  }

  /** WRITE-AUDIT-PUBLISH: fast-forward `src` to everything committed
    * on a BRANCH cloned from it. The pattern: `cloneTable(src,
    * branch)` forks a zero-copy branch at src's version F; a pipeline
    * writes freely to the branch (appends, deletes, merges, layout
    * rewrites — every face); audits run against the branch (counts,
    * CHECK adds, oracle queries) with src's readers never seeing a
    * byte of it; then this call publishes the branch's commits
    * F+1..B into src ATOMICALLY PER VERSION — each branch manifest is
    * copied VERBATIM through the same create-exclusive commit
    * primitive every writer uses (the manifests replay against the
    * fork state src still has, and the clone kept src's version
    * numbering, so they slot in unchanged), after hard-linking the
    * new data files and sidecars they reference (zero copy, same
    * inode trick as the clone; cross-device degrades to copy).
    *
    * FAST-FORWARD ONLY: refused if src advanced past the fork —
    * rebase by re-cloning and re-applying (same discipline as a git
    * ff-only merge; a true three-way table merge would need conflict
    * semantics no reader can audit). A writer racing the publish
    * makes the create-exclusive link fail: the already-published
    * prefix is a consistent sequence of ordinary commits (each was
    * complete on the branch), so the error reports where it stopped
    * and the table is never torn. Feed tables refuse (the feed must
    * observe each commit as it happens, not a burst of history).
    * Returns src's new latest version. */
  def publishBranch(spark: SparkSession, src: String,
      branch: String): Long = {
    require(!feedEnabled(src),
      s"publishBranch($src): feed tables cannot fast-forward a burst " +
        "of history — stream into them instead")
    val bLatest = latestVersion(branch)
    require(bLatest > 0, s"publishBranch: $branch has no commit log")
    val fork = listDir(logDir(branch))
      .map(_.getFileName.toString)
      .collect { case n if n.matches("v\\d{8}\\.manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
      .min
    val sLatest = latestVersion(src)
    require(sLatest == fork,
      s"publishBranch: $src advanced to v$sLatest since the branch " +
        s"forked at v$fork — fast-forward only; re-clone and re-apply")
    if (bLatest == fork) return sLatest
    // link every NEW data file / sidecar the branch commits reference
    // (paths are table-relative uuid dirs, identical in both roots, so
    // pre-fork files already exist in src and collisions are
    // impossible); files first, so no published manifest ever
    // references a missing path
    (fork + 1 to bLatest).foreach { v =>
      val r = parseRec(manifestPath(branch, v)).getOrElse(sys.error(
        s"publishBranch: branch manifest v$v unreadable — aborting " +
          "before any commit"))
      ((r.files ++ r.adds).map(_.path) ++
        (r.dels ++ r.delAdds).map(_.file.path)).distinct
        .foreach(linkOrCopy(branch, src, _))
    }
    (fork + 1 to bLatest).foreach { v =>
      val bytes = Files.readAllBytes(manifestPath(branch, v))
      if (!primitiveFor(src).putIfAbsent(manifestPath(src, v), bytes))
        sys.error(s"publishBranch: $src advanced concurrently at v$v " +
          s"— the published prefix up to v${v - 1} is committed and " +
          "consistent; re-clone from the new head to continue")
    }
    bLatest
  }

  /** THREE-WAY branch merge — the src-advanced case `publishBranch`'s
    * fast-forward discipline refuses: fold a branch's net changes
    * since its fork into a src that has kept committing, as ONE
    * `merge_branch` commit, refusing loudly whenever the two sides'
    * changes cannot be proven independent. File-level three-way
    * semantics against the FORK snapshot (the clone manifest both
    * sides share):
    *
    *   - files REMOVED/REWRITTEN by exactly one side apply; removed by
    *     BOTH sides → CONFLICT (both rewrote the same base file — a
    *     branch delete and a src compaction of the same region, say —
    *     no file-level resolution exists; re-clone and re-apply).
    *   - files ADDED by both sides UNION (the natural semantic for
    *     append-shaped tables). For KEYED tables pass `keyCol`: the
    *     merge then refuses unless every (src-added × branch-added)
    *     pair is provably key-disjoint by the manifest stats — a
    *     same-key upsert on both sides must not silently double.
    *   - SCHEMA: branch schema/schema-op/CHECK changes refuse (they
    *     were validated against the fork state only); src may have
    *     ADDED columns (branch files read null there, the ordinary
    *     evolution contract) — renames/drops/type changes refuse.
    *   - MOR SIDECARS: changes on either side refuse — a sidecar
    *     fences files by version, and the two sides' post-fork
    *     version numbers collide; `morMaintain` (materialize) on the
    *     branch first, which converts them into file rewrites the
    *     rules above audit.
    *   - COUNTERS: branch deltas add onto src's values (additive
    *     counters merge like the concurrent appends they count); a
    *     PIN swing needs a rebalance rewrite, which conflicts above.
    *
    * Branch-added files hard-link in (zero copy, the clone's inode
    * trick) RESTAMPED to the merge version — branch version numbers
    * collide with src's post-fork history, and the stamp is what
    * sidecar/schema-op fencing compares. O(changed files + manifest);
    * CAS-retries against racing src writers like every commit.
    * Returns the committed version. */
  def mergeBranch(spark: SparkSession, src: String, branch: String,
      keyCol: Option[String] = None): Long = {
    require(!feedEnabled(src),
      s"mergeBranch($src): feed tables cannot absorb a burst of " +
        "history — stream into them instead")
    val bLatest = latestVersion(branch)
    require(bLatest > 0, s"mergeBranch: $branch has no commit log")
    val fork = listDir(logDir(branch))
      .map(_.getFileName.toString)
      .collect { case n if n.matches("v\\d{8}\\.manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
      .min
    val bSnap = snapshotOrFail(branch)
    val base = snapshotAt(src, fork).getOrElse(sys.error(
      s"mergeBranch: src's v$fork (the fork point) is no longer " +
        s"resolvable in $src — vacuumed past the fork; re-clone and " +
        "re-apply"))
    // the branch must BE a branch of src: its earliest manifest is the
    // clone commit and carries exactly src's fork file list
    val forkRec = parseRec(manifestPath(branch, fork)).getOrElse(
      sys.error(s"mergeBranch: $branch v$fork unreadable"))
    require(forkRec.kind == "full" &&
        forkRec.files.map(_.path).toSet == base.files.map(_.path).toSet,
      s"mergeBranch: $branch's fork manifest does not match $src at " +
        s"v$fork — not a branch of this table")
    // (name, type) shape — NULLABILITY-insensitive: rewrites re-derive
    // the recorded schema from DataFrames and a parquet round-trip
    // flips nullable, which is not a schema change
    def shape(j: Option[String]): Option[Seq[(String,
        org.apache.spark.sql.types.DataType)]] =
      j.map(x => org.apache.spark.sql.types.DataType.fromJson(x)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fields.toSeq.map(f => (f.name, f.dataType)))
    require(shape(bSnap.schemaJson) == shape(base.schemaJson) &&
        bSnap.schemaOps == base.schemaOps && bSnap.checks == base.checks,
      s"mergeBranch: $branch changed schema, schema ops, or CHECK " +
        "constraints since the fork — publish those with a " +
        "fast-forward (publishBranch), or re-clone")
    require(bSnap.dels == base.dels,
      s"mergeBranch: $branch has pending MOR sidecar changes since " +
        "the fork — run morMaintain(branch) to materialize them into " +
        "file rewrites first (sidecar version fences do not survive a " +
        "merge: the two sides' post-fork version numbers collide)")
    val basePaths = base.files.map(_.path).toSet
    val bPaths = bSnap.files.map(_.path).toSet
    val addedB = bSnap.files.filterNot(f => basePaths(f.path))
    val removedB = basePaths.diff(bPaths)
    commitOn(src) { (srcSnap, version) =>
      require(srcSnap.schemaOps == base.schemaOps &&
          srcSnap.checks == base.checks,
        s"mergeBranch: $src changed schema ops or CHECK constraints " +
          "since the fork — the branch's files were never validated " +
          "against them; re-clone and re-apply")
      // src schema may have ADDED columns (branch files read null
      // there); anything else refuses
      (shape(base.schemaJson), shape(srcSnap.schemaJson)) match {
        case (Some(b), Some(s)) if b != s =>
          val sf = s.toMap
          require(b.forall { case (n, t) => sf.get(n).contains(t) },
            s"mergeBranch: $src changed existing columns since the " +
              "fork (only ADDITIVE evolution merges); re-clone and " +
              "re-apply")
        case _ => ()
      }
      require(srcSnap.dels == base.dels,
        s"mergeBranch: $src has pending MOR sidecar changes since the " +
          "fork — run morMaintain(src) first")
      val srcPaths = srcSnap.files.map(_.path).toSet
      val removedS = basePaths.diff(srcPaths)
      val both = removedB.intersect(removedS)
      require(both.isEmpty,
        s"mergeBranch CONFLICT: both $src and $branch rewrote or " +
          s"removed ${both.size} base file(s) since the fork " +
          s"(${both.take(3).mkString(", ")}${if (both.size > 3) ", …"
          else ""}) — no file-level resolution exists; re-clone and " +
          "re-apply the branch's intent")
      keyCol.foreach { k =>
        val addedS = srcSnap.files.filterNot(f => basePaths(f.path))
        def range(f: FileEntry): (Long, Long) =
          f.stats.find(_.col == k).map(st => (st.min, st.max)).getOrElse(
            sys.error(s"mergeBranch: added file ${f.path} carries no " +
              s"'$k' stat — key-disjointness is unprovable; write with " +
              s"statsCols = Seq(\"$k\"), or merge without keyCol"))
        val clashes = for {
          a <- addedS; b <- addedB
          (alo, ahi) = range(a); (blo, bhi) = range(b)
          if alo <= bhi && blo <= ahi
        } yield s"${a.path} ∩ ${b.path} on [$alo..$ahi]×[$blo..$bhi]"
        require(clashes.isEmpty,
          s"mergeBranch CONFLICT: src- and branch-added files overlap " +
            s"on key '$k' (${clashes.take(3).mkString("; ")}${
              if (clashes.size > 3) "; …" else ""}) — a same-key " +
            "upsert on both sides cannot merge; re-clone and re-apply")
      }
      // link the branch's new files in before the manifest that
      // references them can commit (uuid dir paths are collision-free)
      addedB.foreach(f => linkOrCopy(branch, src, f.path))
      val files = srcSnap.files.filterNot(f => removedB(f.path)) ++
        addedB.map(_.copy(ver = version))
      val rows = srcSnap.rows + (bSnap.rows - base.rows)
      val counters = srcSnap.counters ++
        bSnap.counters.collect {
          case (k, v) if v != base.counters.getOrElse(k, 0L) =>
            k -> (srcSnap.counters.getOrElse(k,
              base.counters.getOrElse(k, 0L)) +
              (v - base.counters.getOrElse(k, 0L)))
        }
      // schemaOps/checks stay default-Nil: the commit gate carries
      // src's previous complete sets forward and treats these fields
      // as THIS commit's delta — passing the full lists would
      // duplicate every pre-fork op
      Some(Change("merge_branch", rows, srcSnap.schemaJson, counters,
        files = Some(files)))
    }.version
  }

  /** RESTORE the table to a historical version — the acting half of
    * time travel (`readAsOf` answers "what did it look like";
    * `restore` makes it so again): commits a NEW full-manifest version
    * whose file list, MOR sidecars, schema, and schema-op history are
    * the target's — metadata-only, zero data files copied or
    * rewritten; the intervening history stays readable (a restore is
    * an ordinary commit, not an erasure — `readVersion` still reaches
    * the undone versions until vacuum). Guards: every restored data
    * file and sidecar must still exist (vacuum may have reclaimed
    * them — refused with the missing paths); the CURRENT CHECK
    * constraints re-validate the restored content (a committed
    * constraint certifies the whole table — a restore must not smuggle
    * pre-constraint rows back in; one scan, same contract as ADD);
    * refused on feed tables (the append-only feed cannot represent
    * un-appending). Counters carry from the current version — a
    * restore rewinds DATA, not accounting pins; index tables swing
    * through their rebalance paths instead. */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    require(!feedEnabled(table),
      s"restore($table): the append-only change feed cannot represent " +
        "a restore — remove the feed (and re-seed consumers) first")
    commitOn(table) { (base, _) =>
      // restoring the current version is a no-op
      Option.when(base.version != version) {
        val target = snapshotAt(table, version).getOrElse(sys.error(
          s"restore($table): version $version is not resolvable " +
            "(never committed, or vacuumed)"))
        val missing = (target.files.map(_.path) ++
          target.dels.map(_.file.path))
          .filterNot(p => Files.exists(Paths.get(table, p)))
        require(missing.isEmpty,
          s"restore($table -> v$version): ${missing.size} data file(s) " +
            s"already vacuumed (${missing.take(3).mkString(", ")}" +
            s"${if (missing.size > 3) ", …" else ""}) — unrestorable")
        enforceChecks(spark, table, base.checks,
          readSnapshot(spark, table, target), "restore")
        Change("restore", target.rows, target.schemaJson, base.counters,
          files = Some(target.files), dels = Some(target.dels),
          schemaOps = target.schemaOps)
      }
    }.version
  }

  /** One-row operational summary — the DESCRIBE DETAIL face: current
    * version, row count, live file count and bytes, pending MOR
    * sidecars, schema-op and CHECK-constraint counts, and the commit
    * timestamp. Pure manifest metadata — sizes come from the
    * write-time `bytes` field (stat fallback only for legacy
    * entries). */
  def detail(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val s = snapshotOrFail(table)
    val bytes = s.files.map(fileBytes(table, _)).sum
    Seq((s.version, s.rows, s.files.size.toLong, bytes,
      s.dels.size.toLong, s.schemaOps.size.toLong, s.checks.size.toLong,
      commitTimestamp(table, s.version).getOrElse(0L),
      s.dels.map(d => fileBytes(table, d.file)).sum))
      .toDF("version", "rows", "n_files", "bytes", "pending_sidecars",
        "schema_ops", "checks", "ts_ms", "sidecar_bytes")
  }

  /** The retention floor shared by `vacuum` and `vacuumPreview`:
    * retention is CHECKPOINT-granular, so the floor is the newest FULL
    * manifest at-or-below the requested version (a retained delta
    * resolves against its chain back to that checkpoint; v1 is full on
    * a from-scratch table, so the descending search normally lands).
    * On a CLONE — whose log STARTS at the fork version, with nothing
    * below it — or a table re-vacuumed with a WIDER window, every
    * version at-or-below `requested` may be missing: then the floor is
    * the earliest EXISTING manifest, which is always a full checkpoint
    * (a clone's first manifest and a post-vacuum floor are both full —
    * verified here, because replaying from a delta base would resolve
    * every later version against the wrong file set). Versions below
    * the floor are treated as already dropped. */
  private def floorAtFullManifest(table: String, requested: Long,
      latest: Long): Long =
    (requested to 1L by -1L).find(v =>
      parseRec(manifestPath(table, v)).exists(_.kind == "full"))
      .getOrElse {
        val earliest = (1L to latest).find(v =>
          Files.exists(manifestPath(table, v))).getOrElse(latest)
        require(parseRec(manifestPath(table, earliest))
            .exists(_.kind == "full"),
          s"vacuum floor of $table: earliest retained manifest " +
            s"v$earliest is not a full checkpoint — log unreplayable")
        earliest
      }

  /** The manifest intervals a vacuum must retain: the main window
    * [dropBelow, latest] plus, for each TAG pinning a version below
    * the floor, that version's own checkpoint-granular chain
    * [floorAtFullManifest(tagV), tagV] — merged where adjacent, so
    * the reference replay runs once per retained manifest. */
  private def protectedIntervals(table: String, dropBelow: Long,
      latest: Long): Seq[(Long, Long)] = {
    val tagIv = tags(table).values.toSeq.distinct
      .filter(v => v >= 1 && v < dropBelow)
      .map(v => (floorAtFullManifest(table, v, latest), v))
    (tagIv :+ (dropBelow, latest)).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) { case (acc, (lo, hi)) =>
        acc match {
          case (plo, phi) :: rest if lo <= phi + 1 =>
            (plo, math.max(phi, hi)) :: rest
          case _ => (lo, hi) :: acc
        }
      }.reverse
  }

  /** Union of [vLo, vHi]'s per-version file references (data files +
    * MOR sidecars), one forward replay from the interval's floor
    * checkpoint. A RETAINED version that fails to parse ABORTS the
    * caller: its adds would drop out of the union and every later
    * delta would replay against the wrong base — data files still
    * referenced by readable manifests would be reported (or swept) as
    * garbage. A destructive pass must never be more tolerant than a
    * read. */
  private def replayRefs(table: String, vLo: Long, vHi: Long,
      caller: String): Iterator[String] = {
    val acc = scala.collection.mutable.HashSet[String]()
    var cur: Seq[FileEntry] = Nil
    var curDels: Seq[DeleteEntry] = Nil
    (vLo to vHi).foreach { v =>
      val r = parseRec(manifestPath(table, v)).getOrElse(sys.error(
        s"$caller of $table: retained manifest v$v unreadable — " +
          "aborting before files it may reference are deemed garbage"))
      cur =
        if (r.kind == "full") r.files
        else {
          val rm = r.removes.toSet
          cur.filterNot(f => rm(f.path)) ++ r.adds
        }
      // MOR-delete sidecars are referenced data too: reclaiming one
      // still listed by a retained manifest would resurrect its rows
      curDels =
        if (r.kind == "full") r.dels else curDels ++ r.delAdds
      acc ++= cur.iterator.map(_.path)
      acc ++= curDels.iterator.map(_.file.path)
    }
    acc.iterator
  }

  /** Dry-run twin of `vacuum`: what WOULD be reclaimed — retired
    * manifest versions and unreferenced data files — without touching
    * anything. Same retention math (checkpoint-granular floor, union
    * of retained versions' references); stale-tmp sweeping is
    * time-sensitive and excluded. */
  def vacuumPreview(table: String, keepVersions: Int = Int.MaxValue,
      keepFromVersion: Long = Long.MaxValue)
      : (Seq[Long], Seq[String]) = {
    val latest = latestVersion(table)
    if (latest == 0) return (Nil, Nil)
    val requested = math.max(1L,
      math.min(keepFromVersion, latest - keepVersions.toLong + 1))
    val dropBelow = floorAtFullManifest(table, requested, latest)
    val keep = protectedIntervals(table, dropBelow, latest)
    def isProtected(v: Long) = keep.exists(iv => v >= iv._1 && v <= iv._2)
    val droppedVersions = (1L until dropBelow)
      .filterNot(isProtected)
      .filter(v => Files.exists(manifestPath(table, v)))
    // mirror vacuum's replay exactly (shared helper): an unreadable
    // RETAINED manifest ABORTS — a lenient preview would under-build
    // `referenced` and report still-referenced files as reclaimable,
    // diverging from the sweep it claims to dry-run
    val referenced: Set[String] =
      keep.iterator.flatMap(iv =>
        replayRefs(table, iv._1, iv._2, "vacuumPreview")).toSet
    val dataRoot = Paths.get(table, "data")
    def listDeep(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Seq(p)
      else (try listDir(p) catch {
        case _: java.io.IOException => Nil
      }).flatMap(listDeep)
    val reclaimable =
      if (!Files.isDirectory(dataRoot)) Nil
      else listDeep(dataRoot)
        .filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .map(p => Paths.get(table).relativize(p).toString)
        .filterNot(referenced)
    (droppedVersions, reclaimable.sorted)
  }

  /** The table's commit history as a DataFrame — the DESCRIBE HISTORY
    * face: one row per RETAINED version with (version, ts_ms, action,
    * kind, rows, txn). Metadata-only: O(retained manifests) small-file
    * reads on the driver, bounded by the vacuum retention window, no
    * data file is touched. Versions a vacuum dropped are absent — the
    * history is exactly what time travel can still reach. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val latest = latestVersion(table)
    val rows = (1L to latest).flatMap(v =>
      parseRec(manifestPath(table, v)).map(r =>
        (r.version, r.tsMs, r.action, r.kind, r.rows, r.txn)))
    rows.toDF("version", "ts_ms", "action", "kind", "rows", "txn")
  }

  /** TIMESTAMP-granular retention, the `readAsOf` complement: keep
    * exactly the history needed to read the table as of `tsMs` or any
    * later instant — the version `readAsOf(tsMs)` resolves to and
    * everything newer — and vacuum the rest (checkpoint-granular like
    * `vacuum`, so the actual floor may retain a little more, never
    * less). A cutoff before the first retained commit is a no-op
    * (nothing is old enough), not an error. */
  def vacuumBefore(spark: SparkSession, table: String, tsMs: Long,
      olderThanMs: Long = StagedCommit.staleLeaseDefaultMs): Seq[String] = {
    if (latestVersion(table) == 0) return Nil
    val floor =
      try versionAsOf(table, tsMs)
      catch { case e: IllegalArgumentException
          if e.getMessage.contains("predates") => return Nil }
    // absolute floor, not a count: a commit landing between our
    // versionAsOf and vacuum's own latest-listing must not shift the
    // retention past versions committed AFTER the cutoff
    vacuum(spark, table, keepVersions = 1, olderThanMs = olderThanMs,
      keepFromVersion = floor)
  }

  /** The epoch-commit half of the NATIVE streaming sink
    * (`df.writeStream.toTable("graft.ns.t")` —
    * [[graft.catalog.GraftStreamingWrite]]): executor-side DataWriters
    * already wrote `relPaths` directly (one parquet file per task,
    * opened lazily on first row), and this turns the epoch into ONE
    * txn-stamped append commit. Only MESSAGE-listed paths are
    * manifested — a zombie/retried task's orphan file never lands (it
    * is invisible garbage until vacuum, like any CAS-loser's write).
    * Same contract as `append`: txn idempotence (a replayed epoch
    * deletes its duplicate files and returns the committed version),
    * CHECK constraints on the new rows, additive schema evolution,
    * feed freed-name guard, counters carried, delta/checkpoint
    * cadence, feed publication. */
  private[graft] def commitStreamEpoch(spark: SparkSession, table: String,
      relPaths: Seq[String], txnId: String, statsCols: Seq[String],
      strStatsCols: Seq[String] = Nil,
      bloomStatsCols: Seq[String] = Nil,
      writeSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Long = {
    committedTxnVersion(table, txnId).foreach { v =>
      relPaths.foreach { p =>
        val ap = Paths.get(table, p)
        Files.deleteIfExists(ap)
        Files.deleteIfExists(ap.resolveSibling(
          s".${ap.getFileName.toString}.crc"))
      }
      return v
    }
    if (relPaths.isEmpty) return latestVersion(table)
    val (entries, newRows) = statEntriesFor(spark, table, relPaths,
      statsCols, strStatsCols, bloomStatsCols,
      writeSchema = writeSchema)
    if (entries.isEmpty) return latestVersion(table)
    // the writer declared its schema: reading with it keeps this
    // DataFrame job-free until a CHECK constraint actually scans it
    // (was: an eager schema-inference Spark job on EVERY epoch commit)
    val written = writeSchema.map(s => spark.read.schema(s))
      .getOrElse(spark.read)
      .parquet(entries.map(f => s"$table/${f.path}"): _*)
    snapshot(table).foreach(b =>
      enforceChecks(spark, table, b.checks, written, "streaming append"))
    val landed = commit(table, Some(txnId)) { (base, _) =>
      val evolved = appendSchema(table, base, written.schema,
        "streaming append", "use a fresh column name")
      Some(Change(if (base.isEmpty) "create" else "append",
        base.map(_.rows).getOrElse(0L) + newRows, evolved,
        base.map(_.counters).getOrElse(Map.empty[String, Long]),
        adds = entries))
    }
    if (landed.fresh && feedEnabled(table)) publishFeed(spark, table)
    landed.version
  }

  /** EXACTLY-ONCE streaming ingest: each micro-batch appends through
    * the log with txn id `<streamId>#<batchId>`. foreachBatch is
    * at-least-once across crash-restarts, but a replayed batch finds
    * its txn already in the manifest chain and skips — the commit log
    * doubles as the sink-side transaction log, the missing half of the
    * exactly-once contract the AnnStore/ClickHouse ingest paths
    * document around. Drains currently available input. */
  def appendStream(spark: SparkSession, table: String, stream: DataFrame,
      streamId: String, checkpoint: Option[String] = None,
      statsCols: Seq[String] = Nil,
      autoCompactBytes: Option[Long] = None,
      autoZOrderBytes: Option[Long] = None): Unit =
    graft.streaming.StreamingOps.runForeachBatch(stream,
      org.apache.spark.sql.streaming.OutputMode.Append(), checkpoint) {
      (batch, batchId) =>
        append(spark, table, batch, statsCols,
          txnId = Some(s"$streamId#$batchId"))
        // auto-OPTIMIZE tick: streaming ingest is what CREATES the
        // small-file problem, so the ingest loop owns the fix —
        // `compactSmall` is O(files under the threshold), carries
        // at-size files by reference, and is CAS-safe against the
        // next batch racing in. Deliberately OUTSIDE the txn-id
        // idempotence envelope: a replayed batch whose append skips
        // may still compact, which is a harmless (and welcome)
        // layout-only maintenance pass; feed tables publish nothing
        // for "compact" commits, so consumers are undisturbed.
        autoCompactBytes.foreach(b =>
          compactSmall(spark, table, b, statsCols = statsCols))
        // clustering twin: once the table HAS a z layout (a one-time
        // zOrder/zOrder3 by the operator), each batch's unclustered
        // tail re-clusters incrementally — O(new data) — so box
        // pruning holds under continuous ingest. Before the layout
        // exists the tick is a no-op (the stream usually creates the
        // table; erroring here would make the option unusable).
        autoZOrderBytes.foreach { b =>
          val hasLayout = snapshot(table).exists(_.files.exists(
            _.stats.exists(st => isLayoutStat(st.col))))
          if (hasLayout)
            zOrderMaintain(spark, table, targetBytes = b,
              statsCols = statsCols,
              smallBytes = autoCompactBytes.getOrElse(0L))
        }
        ()
    }

  // ===== Append-only change-data feed ===================================
  //
  // The streaming READ face of the log — the half `appendStream` (the
  // streaming WRITE face) doesn't cover. Committed appends are published
  // as HARD LINKS into `<table>/_feed/`, named `v<version>_<file>`, and
  // consumed with Spark's built-in incremental parquet FileStreamSource
  // (`changeFeedStream`): the source's own checkpoint tracks seen paths,
  // so chaining `changeFeedStream(bronze)` into `appendStream(silver)`
  // is an exactly-once bronze→silver incremental pipeline in one line —
  // the medallion shape a training-data lake runs continuously. Reusing
  // the built-in source (instead of hand-rolling a DSv2 parquet reader
  // over the manifest chain) keeps vectorized reads, backpressure
  // (`maxFilesPerTrigger`), and checkpoint recovery for free.
  //
  // Why hard links: publication is O(added files) metadata with zero
  // data copy, and a link pins the inode — `vacuum` dropping an old
  // version deletes the ORIGINAL path, while a lagging consumer keeps
  // reading the feed link. Feed retention is its own policy
  // (`vacuumFeed`), not coupled to table retention.
  //
  // Crash-safety: links are idempotently NAMED (version + original file
  // name), and a per-version `_done_v<N>` marker is written only after
  // all of that version's links — a crash mid-publish is healed by the
  // next `publishFeed` (every append on a feed-enabled table calls it),
  // which re-creates the missing links under the SAME names, so the
  // FileStreamSource's seen-path log never double-delivers. Markers are
  // `_`-prefixed (invisible to Spark's file listing) and are KEPT by
  // `vacuumFeed` — deleting a marker would make healing re-link a
  // version whose links were deliberately retired.
  //
  // The PLAIN feed is append-only BY CONSTRUCTION: `rewrite` refuses
  // data-changing actions on a feed-enabled table (layout-only
  // compact/zorder stay allowed — their rows were already delivered by
  // the appends that produced them), because an add-only file feed
  // cannot represent an update/delete. That is Delta CDF's contract
  // minus update capture, enforced at write time instead of surfacing
  // as consumer corruption.
  //
  // The TYPED (CDC) feed lifts exactly the delete half of that
  // restriction: `enableCdcFeed` adds a `_cdc` marker, reads gain a
  // `_change_type` column ('insert' | 'delete'), and the stats-pruned
  // copy-on-write deletes (`deleteWhere`/`deleteWhereIn`) become legal
  // on the table — their DELETED ROWS are captured into the feed as
  // typed rows, so a downstream derives the surviving state as
  // inserts ⊖ deletes (multiset exceptAll) instead of re-running the
  // delete manually. Capture is manifest-derived, not
  // predicate-replayed: deleted = scan(removed files) exceptAll
  // scan(remainder files), exact by the delete's multiset identity
  // (affected = matched ⊎ kept), so healing needs no record of the
  // predicate. The capture is STAGED under `_feed_stage/v<N>/`
  // (exclusive temp+atomic-rename creation; an existing stage is
  // ADOPTED verbatim and retired only by vacuumFeed once marker-done
  // and lease-stale — stage part names are the idempotence anchor)
  // and hard-linked into the feed under deterministic names
  // (`v<N>_cdc_<part>`), so a crash anywhere between manifest commit
  // and done-marker is healed by the next publish without ever
  // double-delivering a row to the FileStreamSource's seen-path log.
  // Insert links are untouched data files with NO `_change_type`
  // column — the read faces declare it in the schema (absent column
  // reads null) and coalesce null to 'insert', so publication stays
  // O(added files) metadata with zero data rewrite.
  //
  // UPDATES (the stats-pruned `mergeCow`/`applyCdc`/`updateWhere`
  // commits) are captured on CDC feeds by the same manifest-derived
  // machinery, via the multiset SYMMETRIC difference: the rewritten
  // files mix untouched remainder rows with the new/updated rows, but
  // the remainder rows appear identically in BOTH the removed and the
  // added files and CANCEL in `exceptAll` taken each way — so
  //   deletes = scan(removed) exceptAll scan(added)   (old matched rows)
  //   inserts = scan(added)  exceptAll scan(removed)  (new/updated rows)
  // with no record of the source or predicate needed for healing. An
  // update whose new row is identical to the old one cancels on both
  // sides and publishes nothing — a no-op change is no change. Both
  // halves are staged (the insert half cannot be a raw-file link: the
  // added files interleave remainder rows) and linked under the same
  // deterministic `v<N>_cdc_<part>` names. Capture cost is O(affected
  // files + added files) — the same file set the commit itself read
  // and wrote, never the table. Fidelity contract: a MULTISET consumer
  // (state = inserts ⊖ deletes, what `readFeed` documents) is exact
  // unconditionally; the KEYED reading (`applyCdc`) is exact when the
  // touched keys are unique in the base table — which applyCdc-written
  // tables are by construction and mergeCow's own dup-collapse makes
  // true from the first merge on. (A dup-keyed base was never
  // faithfully representable as a keyed state to begin with; this is
  // why the capture stays with two change types instead of Delta-CDF's
  // update_pre/postimage pairing — cancellation makes the pairing
  // non-total, and the multiset identity needs no pairing.)
  // Full-snapshot rewrites (`mergeUpsert`, `maintainAgg`'s refresh)
  // stay refused on ALL feed tables: their capture would scan the
  // whole old+new table — use the pruned COW faces on a feed.

  private def feedDir(table: String): Path = Paths.get(table, "_feed")
  private def feedMarker(table: String, v: Long): Path =
    feedDir(table).resolve(f"_done_v$v%09d")
  private def cdcMarker(table: String): Path = feedDir(table).resolve("_cdc")
  private def cdcStageDir(table: String, v: Long): Path =
    Paths.get(table, "_feed_stage", f"v$v%09d")

  /** Column name the typed feed's change kind is delivered under. */
  val changeTypeCol = "_change_type"

  /** Column name the feed's COMMIT VERSION is delivered under (opt-in
    * via `withVersion`): parsed from the link's own `v<N>_` prefix, so
    * it costs nothing to store and gives consumers the log's total
    * order — what `applyCdc` uses to resolve latest-wins per key. */
  val changeVersionCol = "_change_version"

  def feedEnabled(table: String): Boolean = Files.isDirectory(feedDir(table))

  def cdcFeedEnabled(table: String): Boolean = Files.exists(cdcMarker(table))

  /** Opt the table into the TYPED change feed: like `enableFeed`, plus
    * copy-on-write deletes are permitted and captured as
    * `_change_type='delete'` rows (see the section comment). */
  def enableCdcFeed(table: String): Unit = {
    Files.createDirectories(feedDir(table))
    try { Files.write(cdcMarker(table), Array.emptyByteArray); () }
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
  }

  /** Opt the table into change-feed publication. Appends from here on
    * auto-publish; pre-existing RETAINED history is back-filled by the
    * first `publishFeed` (per-version adds from v1, or the retention
    * floor's full snapshot where older manifests were vacuumed). A
    * history containing a data-changing rewrite cannot be back-filled
    * as appends — `publishFeed` fails loudly there; use
    * `publishInitialSnapshot` to start the feed from the current state
    * instead. */
  def enableFeed(table: String): Unit = {
    Files.createDirectories(feedDir(table))
    ()
  }

  /** Turn the feed off: removes links, markers, and the dir itself, so
    * data-changing rewrites (merge, delete) are permitted again. The
    * sanctioned escape when a feed-enabled table needs a delete — any
    * consumer checkpoint becomes orphaned, which is the point: the feed
    * contract cannot survive a data-changing rewrite. */
  def disableFeed(table: String): Unit = {
    if (feedEnabled(table))
      org.apache.commons.io.FileUtils.deleteDirectory(
        feedDir(table).toFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      Paths.get(table, "_feed_stage").toFile)
    ()
  }

  /** Start the feed at the CURRENT snapshot: link the latest version's
    * full file list as the feed's initial state and mark every earlier
    * version done (delivering nothing for them). The escape hatch for
    * enabling a feed on a table whose history holds merges. */
  def publishInitialSnapshot(table: String): Seq[String] = {
    require(feedEnabled(table),
      s"publishInitialSnapshot($table): feed not enabled — call enableFeed first")
    // a partially-backfilled feed (publishFeed linked some versions,
    // then hit a merge) plus a snapshot would DOUBLE-deliver the linked
    // rows — this call STARTS a feed, it cannot repair one
    require(!listDir(feedDir(table))
        .exists(_.getFileName.toString.startsWith("v")),
      s"publishInitialSnapshot($table): the feed already has published " +
        "links — disableFeed, then enableFeed, to restart from a snapshot")
    val latest = latestVersion(table)
    val snap = snapshot(table).getOrElse(
      sys.error(s"publishInitialSnapshot($table): no committed version"))
    val linked = snap.files.map(f => linkIntoFeed(table, latest, f.path))
    (1L to latest).foreach(v => writeFeedMarker(table, v))
    linked
  }

  private def linkIntoFeed(table: String, v: Long, path: String): String = {
    val link = feedDir(table).resolve(f"v$v%09d_" + path.replace('/', '_'))
    if (!Files.exists(link)) {
      try Files.createLink(link, Paths.get(table, path))
      catch {
        case _: java.nio.file.FileAlreadyExistsException => () // racing publisher
        case _: java.nio.file.NoSuchFileException => ()
          // a concurrent vacuum removed the original (or disableFeed the
          // _feed dir) mid-publish: the version's rows are gone on
          // purpose — skip rather than fail an append whose manifest has
          // already committed (the caller would see a failed append that
          // actually committed)
        case _: UnsupportedOperationException => // cross-device / no-link FS
          Files.copy(Paths.get(table, path), link,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    link.getFileName.toString
  }

  private def writeFeedMarker(table: String, v: Long): Unit =
    try { Files.write(feedMarker(table, v), Array.emptyByteArray); () }
    catch { case _: java.nio.file.FileAlreadyExistsException => () }

  /** First version with no done-marker. Markers are written in version
    * order by every publisher and kept by `vacuumFeed`, so the done set
    * is prefix-closed — binary search finds the publish frontier in
    * O(log versions) stat calls, keeping the auto-publish on every
    * append cheap even on a table with a 100k-commit ingest history. */
  private def publishFrontier(table: String, latest: Long): Long = {
    if (latest == 0 || !Files.exists(feedMarker(table, 1))) return 1L
    if (Files.exists(feedMarker(table, latest))) return latest + 1
    var lo = 1L // marker exists
    var hi = latest // marker absent
    while (hi - lo > 1) {
      val mid = (lo + hi) / 2
      if (Files.exists(feedMarker(table, mid))) lo = mid else hi = mid
    }
    hi
  }

  /** Publish every unpublished version's added files into the feed.
    * Idempotent and healing (see the section comment); called
    * automatically by `append` (and, in CDC mode, the deletes) on
    * feed-enabled tables. Returns the link names published by THIS
    * call. The no-SparkSession overload serves plain append-only
    * feeds; healing a CDC delete's capture needs the Spark overload. */
  def publishFeed(table: String): Seq[String] = publishFeedImpl(table, None)

  def publishFeed(spark: SparkSession, table: String): Seq[String] =
    publishFeedImpl(table, Some(spark))

  private def publishFeedImpl(table: String,
      sparkOpt: Option[SparkSession]): Seq[String] = {
    require(feedEnabled(table),
      s"publishFeed($table): feed not enabled — call enableFeed first")
    val latest = latestVersion(table)
    val out = Seq.newBuilder[String]
    (publishFrontier(table, latest) to latest).foreach { v =>
      if (!Files.exists(feedMarker(table, v))) {
        parseRec(manifestPath(table, v)) match {
          case None => // vacuumed before publication: nothing deliverable
            writeFeedMarker(table, v)
          case Some(r) =>
            val prevSnap: Option[Snapshot] =
              if (v == 1) None else snapshotAt(table, v - 1)
            val prevFiles: Option[Set[String]] =
              if (v == 1) Some(Set.empty)
              else prevSnap.map(_.files.map(_.path).toSet)
            prevFiles match {
              case Some(prev) => r.action match {
                case "create" | "append" =>
                  val adds =
                    if (r.kind == "delta") r.adds.map(_.path)
                    else r.files.map(_.path).filterNot(prev)
                  adds.foreach(p => out += linkIntoFeed(table, v, p))
                case "compact" | "zorder" | "mor_materialize" =>
                  // layout-only: these rows were already delivered
                  // (mor_materialize physically removes rows whose
                  // deletion was captured at their sidecar's commit)
                  ()
                case "schema" | "check_add" | "check_drop" =>
                  () // metadata-only: no rows changed
                case act @ ("delete" | "merge" | "update" | "replace")
                    if cdcFeedEnabled(table) =>
                  val spark = sparkOpt.getOrElse(sys.error(
                    s"publishFeed($table): healing version $v's $act " +
                      "capture needs a SparkSession — call " +
                      "publishFeed(spark, table)"))
                  val (addP, rmP) =
                    if (r.kind == "delta") (r.adds.map(_.path), r.removes)
                    else {
                      val cur = r.files.map(_.path)
                      (cur.filterNot(prev), (prev -- cur).toSeq.sorted)
                    }
                  // a delete's adds are remainder-only (⊆ removed as a
                  // multiset), so its insert-side difference is provably
                  // empty — skip that scan; merge/update capture both
                  out ++= publishCdcChanges(spark, table, v, rmP, addP,
                    r.schemaJson, captureInserts = act != "delete",
                    prevSnap)
                case act @ ("delete_mor" | "update_mor" | "merge_mor" |
                    "apply_cdc_mor" | "delete_dv" | "update_dv" |
                    "write_delta_delete" | "write_delta_update" |
                    "write_delta_merge")
                    if cdcFeedEnabled(table) =>
                  val spark = sparkOpt.getOrElse(sys.error(
                    s"publishFeed($table): healing version $v's $act " +
                      "capture needs a SparkSession — call " +
                      "publishFeed(spark, table)"))
                  val newDels =
                    if (r.kind == "delta") r.delAdds
                    else {
                      val pd = prevSnap.map(_.dels.map(_.file.path).toSet)
                        .getOrElse(Set.empty[String])
                      r.dels.filterNot(d => pd(d.file.path))
                    }
                  // old images of the sidecar-deleted keys, as deletes
                  out ++= publishCdcMorDelete(spark, table, v,
                    prevSnap.getOrElse(sys.error(
                      s"publishFeed($table): v${v - 1} unresolvable " +
                        s"while capturing v$v's $act")),
                    newDels, r.schemaJson)
                  // update/merge MOR also ADD new-image files: link
                  // them raw as inserts (absent `_change_type` reads
                  // 'insert'), zero data rewrite — applyCdc's per-key
                  // resolution lets the same-version insert win over
                  // the delete, which is the update's meaning
                  if (act != "delete_mor" && act != "delete_dv" &&
                      act != "write_delta_delete") {
                    val adds =
                      if (r.kind == "delta") r.adds.map(_.path)
                      else r.files.map(_.path).filterNot(prev)
                    out ++= adds.map(p => linkIntoFeed(table, v, p))
                  }
                case other => sys.error(
                  s"publishFeed($table): version $v is a data-changing " +
                    s"rewrite ('$other') this feed cannot represent" +
                    " — start from publishInitialSnapshot instead")
              }
              case None =>
                // v−1 was vacuumed: v is the retention floor — deliver its
                // full snapshot once as the feed's back-fill initial state
                snapshotAt(table, v).foreach(snap =>
                  snap.files.foreach(f => out += linkIntoFeed(table, v, f.path)))
            }
            writeFeedMarker(table, v)
            // the capture stage is deliberately NOT cleaned here: stage
            // part names are this publication's idempotence anchor, and
            // a slow racing publisher that passed the marker check
            // re-captures into a FRESH stage if this one vanishes —
            // then links a second, differently-named set (measured:
            // 3 racers → 3× delivery). vacuumFeed retires stages once
            // they are marker-done AND stale past the lease window.
        }
      }
    }
    out.result()
  }

  /** Capture version `v`'s CHANGED rows into the feed by the multiset
    * symmetric difference of the commit's own file diff:
    * deletes = scan(removed) exceptAll scan(added) — exact for a
    * delete by its audit identity (affected = matched ⊎ kept) and for
    * a merge/update because remainder rows cancel — and, when
    * `captureInserts` (merge/update commits), the mirror
    * inserts = scan(added) exceptAll scan(removed). Both halves are
    * stamped, staged once, linked deterministically. Runs right after
    * the commit on the normal path; a crash before the done-marker
    * re-enters here idempotently (the removed files exist until a
    * vacuum drops the PRE-commit versions, which retention never does
    * inside a crash-heal window). */
  private def publishCdcChanges(spark: SparkSession, table: String, v: Long,
      removedPaths: Seq[String], addedPaths: Seq[String],
      schemaJson: Option[String], captureInserts: Boolean,
      prevSnap: Option[Snapshot]): Seq[String] = {
    import org.apache.spark.sql.functions.lit
    if (removedPaths.isEmpty && !captureInserts) return Nil
    if (removedPaths.isEmpty)
      // pure-insert merge/update (every file's stats excluded every
      // touched key): the added files hold ONLY new rows — link them
      // raw like an append (absent `_change_type` reads 'insert'),
      // zero data rewrite
      return addedPaths.map(p => linkIntoFeed(table, v, p))
    stageAndLinkCdc(spark, table, v) {
      // the REMOVED side scans MOR- and SCHEMA-OP-AWARE at the
      // pre-commit snapshot: rows a pending delete sidecar had already
      // logically removed were captured at the sidecar's own commit —
      // recounting them here would double-deliver their delete — and
      // files written before a column drop carry pre-op physical
      // names that must resolve, not resurrect
      val removed = prevSnap match {
        case Some(ps) =>
          val rm = removedPaths.toSet
          morScan(spark, table, ps.copy(schemaJson = schemaJson),
            ps.files.filter(f => rm(f.path)))
        case None => scanFiles(spark, schemaJson,
          removedPaths.map(p => s"$table/$p"))
      }
      val added =
        if (addedPaths.isEmpty) None
        else Some(scanFiles(spark, schemaJson,
          addedPaths.map(p => s"$table/$p")))
      val deletes =
        added.fold(removed)(removed.exceptAll)
          .withColumn(changeTypeCol, lit("delete"))
      added match {
        case Some(a) if captureInserts =>
          deletes.unionByName(a.exceptAll(removed)
            .withColumn(changeTypeCol, lit("insert")))
        case _ => deletes
      }
    }
  }

  /** Typed capture of a MERGE-ON-READ delete commit: the deleted rows
    * are exactly the PRE-commit snapshot's rows whose key is in the
    * new sidecar(s) — read MOR-aware (earlier sidecars' rows were
    * captured at their own commits) over files range-pruned by the
    * sidecar's own recorded key stats, then semi-joined per key
    * column. Staged and linked like every CDC capture. */
  private def publishCdcMorDelete(spark: SparkSession, table: String,
      v: Long, prevSnap: Snapshot, newDels: Seq[DeleteEntry],
      schemaJson: Option[String]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, lit}
    if (newDels.isEmpty) return Nil
    stageAndLinkCdc(spark, table, v) {
      newDels.groupBy(_.keyCol).map {
        case (DvKeyCol, des) =>
          // POSITIONAL sidecar: the deleted rows are exactly the
          // pre-commit snapshot's rows AT the vectored positions —
          // scan the identity-fenced candidates position-aware and
          // keep the vector hits (the mirror image of the read filter)
          val cand = prevSnap.files.filter(f =>
            des.exists(d => sidecarFences(prevSnap, f, d)))
          val c = org.apache.spark.sql.graft.Bridge.column(
            graft.functions.DvContains(
              org.apache.spark.sql.graft.Bridge.expression(
                col(GraftFileCol)),
              org.apache.spark.sql.graft.Bridge.expression(
                col(GraftPosCol)),
              loadDv(spark, table, des)))
          morScan(spark, table, prevSnap.copy(schemaJson = schemaJson),
            cand, pos = true)
            .where(org.apache.spark.sql.functions.coalesce(c,
              lit(false)))
            .drop(GraftFileCol, GraftPosCol)
        case (k, des) =>
        val lo = des.flatMap(_.file.stats.find(_.col == k).map(_.min))
          .minOption
        val hi = des.flatMap(_.file.stats.find(_.col == k).map(_.max))
          .maxOption
        val slo = des.flatMap(_.file.strStats.find(_.col == k).map(_.min))
          .sorted(Ordering.fromLessThan[String](
            (a, b) => a != b && utf8Leq(a, b))).headOption
        val shi = des.flatMap(_.file.strStats.find(_.col == k).map(_.max))
          .sorted(Ordering.fromLessThan[String](
            (a, b) => a != b && utf8Leq(a, b))).lastOption
        val cand = prevSnap.files.filter { f =>
          val longOk = (lo, hi) match {
            case (Some(l), Some(h)) =>
              f.stats.find(_.col == k).forall(st =>
                st.max >= l && st.min <= h)
            case _ => true
          }
          val strOk = (slo, shi) match {
            case (Some(l), Some(h)) =>
              f.strStats.find(_.col == k).forall(st =>
                utf8Leq(st.min, h) && utf8Leq(l, st.max))
            case _ => true
          }
          longOk && strOk
        }
        // key sidecars are immutable and their schema derives from the
        // manifest: no per-capture schema-inference job
        val keys = readSidecars(spark,
          des.map(d => s"$table/${d.file.path}"),
          sidecarHint(schemaJson, k))
        morScan(spark, table, prevSnap.copy(schemaJson = schemaJson), cand)
          .join(keys.select(col(k)), Seq(k), "left_semi")
      }.reduce(_ unionByName _)
        .withColumn(changeTypeCol, lit("delete"))
    }
  }

  /** The shared stage-and-link tail of every CDC capture: write
    * `captured` to a private temp dir, atomically rename it to the
    * version's stage (the loser of a publish race adopts the winner's
    * immutable stage — see the race note), then hard-link the parts
    * into the feed under deterministic names. */
  private def stageAndLinkCdc(spark: SparkSession, table: String,
      v: Long)(captured: => DataFrame): Seq[String] = {
    // a racer may have published and marked this version while we were
    // working through earlier ones — its links are complete, skip
    if (Files.exists(feedMarker(table, v))) return Nil
    val stage = cdcStageDir(table, v)
    // stage creation is EXCLUSIVE: write to a private temp dir, then
    // atomically RENAME it to the final stage path — the loser of a
    // concurrent publish race (two appends healing the same delete
    // version) finds the final dir taken and adopts the WINNER's
    // immutable stage. An in-place overwrite here would let the loser
    // rewrite part files (new names) while the winner links the old
    // ones — both sets end up linked and the captured rows
    // double-deliver. A crash mid-write leaves only a temp dir (the
    // final path never exists half-written); vacuumFeed sweeps those.
    if (!Files.exists(stage)) {
      val tmp = stage.getParent.resolve(
        s".tmp-${stage.getFileName}-${java.util.UUID.randomUUID()}")
      val winners = writeStagedFiles(spark, tmp.toString, captured)
      // the stage becomes immutable at the rename and the LINK step
      // lists it, so a non-winning attempt's leftover must go now (the
      // committer path used to exclude those for us); winners only
      listDir(tmp).map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !winners.contains(n))
        .foreach { n =>
          Files.deleteIfExists(tmp.resolve(n))
          Files.deleteIfExists(tmp.resolve(s".$n.crc"))
        }
      try Files.move(tmp, stage, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.DirectoryNotEmptyException |
             _: java.nio.file.FileSystemException =>
          // lost the race: adopt the winner's stage, drop ours
          org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
      }
    }
    listDir(stage).map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
      .sorted
      .map { n =>
        val link = feedDir(table).resolve(f"v$v%09d_cdc_$n")
        if (!Files.exists(link)) {
          try Files.createLink(link, stage.resolve(n))
          catch {
            case _: java.nio.file.FileAlreadyExistsException => ()
            case _: java.nio.file.NoSuchFileException => ()
            case _: UnsupportedOperationException =>
              Files.copy(stage.resolve(n), link,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        }
        link.getFileName.toString
      }
  }

  /** Batch read of everything the feed has delivered so far (each
    * appended row exactly once), under the table's recorded schema.
    * On a TYPED (CDC) feed the result carries `_change_type`
    * ('insert' | 'delete'): insert links hold no such column (they are
    * untouched data files) and read it as null, coalesced here — so a
    * consumer derives the surviving state as
    * inserts.exceptAll(deletes), exact by the capture's multiset
    * identity.
    *
    * Retention: this face deliberately serves WHATEVER LINKS REMAIN
    * after a `vacuumFeed` (spec-pinned — the lagging-consumer shape:
    * feed retention is its own policy and retiring old links is not
    * an error). Consumers that need completeness-or-refusal use
    * [[readFeedBetween]] (and the `__changes` faces), which fence on
    * the durable retention floor. */
  def readFeed(spark: SparkSession, table: String,
      withVersion: Boolean = false): DataFrame = {
    require(feedEnabled(table), s"readFeed($table): feed not enabled")
    val base =
      if (!cdcFeedEnabled(table))
        spark.read.schema(feedSchema(spark, table))
          .parquet(feedDir(table).toString)
      else {
        import org.apache.spark.sql.functions.{coalesce, col, lit}
        spark.read.schema(cdcSchema(spark, table))
          .parquet(feedDir(table).toString)
          .withColumn(changeTypeCol,
            coalesce(col(changeTypeCol), lit("insert")))
      }
    if (withVersion) withChangeVersion(base) else base
  }

  /** The feed rows for commit versions in `[vFrom, vTo]` ONLY — the
    * bounded batch CDC read ("what changed between v5 and v9", the
    * incremental-ETL backfill shape). Reads EXACTLY the window's link
    * files (driver listing + explicit path list — on a 100k-version
    * feed a 3-version window opens 3 versions' links, not the whole
    * directory), bounded by the PUBLISHED frontier like the stream:
    * an unpublished version's links may be mid-publish-incomplete, so
    * they are never served batch either. `vTo` past the frontier
    * refuses loudly (the caller asked for versions that don't exist
    * yet or aren't fully published). Empty windows return an empty
    * frame with the changes schema. */
  def readFeedBetween(spark: SparkSession, table: String, vFrom: Long,
      vTo: Long): DataFrame = {
    require(feedEnabled(table), s"readFeedBetween($table): feed not enabled")
    val frontier = publishedFrontier(table)
    require(vTo <= frontier,
      s"readFeedBetween($table): endingVersion $vTo exceeds the " +
        s"published feed frontier $frontier")
    val floor = feedFloor(table)
    require(vFrom >= floor,
      s"readFeedBetween($table): the window starts at $vFrom but " +
        s"vacuumFeed retired links below $floor — versions " +
        s"[$vFrom, ${floor - 1}] are no longer servable; start at " +
        s"$floor or later, or re-backfill from the table snapshot")
    val links = feedLinksBetween(table, vFrom, vTo)
      .map(_._2.toString)
    val sch =
      if (cdcFeedEnabled(table)) cdcSchema(spark, table)
      else feedSchema(spark, table)
    val base =
      if (links.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
      else spark.read.schema(sch).parquet(links: _*)
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val typed =
      if (base.columns.contains(changeTypeCol))
        base.withColumn(changeTypeCol,
          coalesce(col(changeTypeCol), lit("insert")))
      else base.withColumn(changeTypeCol, lit("insert"))
    withChangeVersion(typed)
  }

  /** The commit version each feed row was published under, parsed from
    * the link name's `v<N>_` prefix — free (no stored column), and the
    * same total order the manifest chain defines. */
  private def withChangeVersion(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{input_file_name, regexp_extract}
    df.withColumn(changeVersionCol,
      regexp_extract(input_file_name(), "/v(\\d{9})_", 1).cast("long"))
  }

  private def cdcSchema(spark: SparkSession,
      table: String): org.apache.spark.sql.types.StructType =
    feedSchema(spark, table)
      .add(changeTypeCol, org.apache.spark.sql.types.StringType,
        nullable = true)

  /** The feed as an unbounded stream: Spark's incremental parquet file
    * source over the feed dir — new links picked up per trigger, seen
    * files tracked in the CONSUMER's checkpoint (restart-safe).
    * `maxFilesPerTrigger` is the backpressure knob for a catching-up
    * consumer. The schema is pinned at stream START (the usual file
    * source contract, same as Delta's streaming read): columns added by
    * a later evolved append are delivered only after a consumer
    * restart; until then the old files' absent columns read as null and
    * new columns are projected away. */
  def changeFeedStream(spark: SparkSession, table: String,
      maxFilesPerTrigger: Option[Int] = None,
      withVersion: Boolean = false): DataFrame = {
    require(feedEnabled(table), s"changeFeedStream($table): feed not enabled")
    val cdc = cdcFeedEnabled(table)
    val sch = if (cdc) cdcSchema(spark, table) else feedSchema(spark, table)
    val r = spark.readStream.schema(sch)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    val df = r.parquet(feedDir(table).toString)
    val typed =
      if (!cdc) df
      else {
        import org.apache.spark.sql.functions.{coalesce, col, lit}
        df.withColumn(changeTypeCol,
          coalesce(col(changeTypeCol), lit("insert")))
      }
    if (withVersion) withChangeVersion(typed) else typed
  }

  /** The feed's retention floor: the lowest version whose links are
    * guaranteed still present (0 when no vacuumFeed ever retired any —
    * every window is servable). Written monotonically by vacuumFeed. */
  private[graft] def feedFloor(table: String): Long = {
    val p = Paths.get(table, "_feed_floor")
    try Files.readString(p, UTF_8).trim.toLong
    catch { case _: java.io.IOException => 0L }
  }

  /** Highest PUBLISHED feed version (all markers ≤ it present) — the
    * changes-table stream's offset frontier: a version's links are
    * complete exactly when its marker exists, so offsets bounded by
    * this never race a mid-publish crash window. */
  private[graft] def publishedFrontier(table: String): Long =
    publishFrontier(table, latestVersion(table)) - 1

  /** The feed links for versions in `[vFrom, vTo]`, with each link's
    * publishing version (parsed from the `v<N>_` name prefix) —
    * deterministic order. */
  private[graft] def feedLinksBetween(table: String, vFrom: Long,
      vTo: Long): Seq[(Long, java.nio.file.Path)] = {
    // O(feed dir) per call by design — the retention floor
    // (vacuumFeed) is what bounds the directory, and tools.FeedStats
    // puts the flat-layout cost at ~10 ms per bounded window at 10k
    // retained links (~100 ms at an unvacuumed 100k). Version parse
    // and range check run per NAME with no regex and no allocation;
    // only the window sorts.
    def verOf(n: String): Long = {
      if (n.length < 11 || n.charAt(0) != 'v' || n.charAt(10) != '_')
        return -1L
      var v = 0L
      var i = 1
      while (i < 10) {
        val c = n.charAt(i)
        if (c < '0' || c > '9') return -1L
        v = v * 10 + (c - '0')
        i += 1
      }
      v
    }
    listDir(feedDir(table))
      .flatMap { p =>
        val v = verOf(p.getFileName.toString)
        if (v >= vFrom && v <= vTo && v >= 0) Some((v, p)) else None
      }
      .sortBy { case (v, p) => (v, p.getFileName.toString) }
  }

  /** The changes-table schema: data columns + `_change_type` +
    * `_change_version` (the CDC subscription row shape). */
  private[graft] def changesSchemaOf(spark: SparkSession,
      table: String): org.apache.spark.sql.types.StructType =
    // declared NULLABLE although the served values never are: insert
    // links lack the stored `_change_type` column, and the vectorized
    // parquet reader refuses to null-fill a missing column declared
    // non-nullable
    feedSchema(spark, table)
      .add(changeTypeCol, org.apache.spark.sql.types.StringType,
        nullable = true)
      .add(changeVersionCol, org.apache.spark.sql.types.LongType,
        nullable = true)

  private def feedSchema(spark: SparkSession,
      table: String): org.apache.spark.sql.types.StructType =
    snapshot(table).flatMap(_.schemaJson) match {
      case Some(j) => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      case None => // legacy table: infer from the feed's own files
        spark.read.parquet(feedDir(table).toString).schema
    }

  /** Retire feed links for versions below `latest − keepVersions + 1`.
    * Markers are kept (healing must not re-link retired versions);
    * deleteIfExists so racing maintenance skips quietly. Link deletion
    * only drops the inode refcount — data still referenced by the TABLE
    * is untouched. */
  def vacuumFeed(table: String, keepVersions: Int): Seq[String] = {
    require(feedEnabled(table), s"vacuumFeed($table): feed not enabled")
    val floor = math.max(1L, latestVersion(table) - keepVersions + 1)
    def below(p: Path): Option[String] = {
      val n = p.getFileName.toString
      val ver = if (n.startsWith("v") && n.length > 10)
        n.slice(1, 10).toLongOption else None
      if (ver.exists(_ < floor)) Some(n) else None
    }
    // durable retention floor, monotone: below it, "no links" can mean
    // "retired" rather than "version published nothing" — bounded
    // reads refuse windows reaching under it instead of silently
    // serving a partial history. Persisted BEFORE any link is deleted:
    // a crash between the two must leave the floor over-claiming
    // (links still present but fenced — conservative refusal, and the
    // re-run finishes the deletion) rather than under-claiming
    // (links gone, floor unrecorded → every bounded read silently
    // serves the partial feed forever). Lives OUTSIDE _feed (the feed
    // dir must stay a pure parquet glob for the unbounded readers).
    val doomed = listDir(feedDir(table)).filter(p => below(p).isDefined)
    if (doomed.nonEmpty && floor > feedFloor(table)) {
      val p = Paths.get(table, "_feed_floor")
      val tmp = Files.createTempFile(Paths.get(table), ".tmp-floor-", "")
      Files.writeString(tmp, floor.toString, UTF_8)
      Files.move(tmp, p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val retired = doomed.flatMap(p =>
      if (Files.deleteIfExists(p)) Some(s"_feed/${p.getFileName}")
      else None)
    // CDC capture-stage hygiene. A version's stage part names are the
    // publication's idempotence anchor, so publishFeed never removes a
    // stage — retirement happens HERE, and only once the version is
    // marker-done AND the stage is stale past the lease window: a
    // younger stage may still be in a racing publisher's hands, and
    // sweeping it mid-publish would make that racer re-capture under
    // fresh part names and double-deliver. Crashed exclusive-rename
    // temps (never adopted) are swept under the same staleness rule.
    val stageRoot = Paths.get(table, "_feed_stage")
    val staleCutoff =
      System.currentTimeMillis() - StagedCommit.staleLeaseDefaultMs
    def stale(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis <= staleCutoff
      catch { case _: java.io.IOException => false }
    val staged =
      if (!Files.isDirectory(stageRoot)) Nil
      else listDir(stageRoot).flatMap { p =>
        val n = p.getFileName.toString
        val publishedStage = n.startsWith("v") &&
          n.drop(1).toLongOption.exists(v =>
            Files.exists(feedMarker(table, v))) && stale(p)
        val staleTmp = n.startsWith(".tmp-") && stale(p)
        if (publishedStage || staleTmp) {
          org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
          Some(s"_feed_stage/$n")
        } else None
      }
    retired ++ staged
  }

  /** Clustering-preserving small-file compaction: a long-lived
    * incremental ingest appends one small cell/block-clustered file set
    * per batch, so a probe of k cells touches O(batches) files even
    * though every file's stats are tight. This rewrite merges the
    * generations back into `nFiles` files range-partitioned by
    * `clusterCol` — per-file stats stay tight (each output file covers a
    * contiguous cluster range), counters (docs / cbv pins) carry over
    * verbatim, and the row-count audit holds, so index semantics are
    * untouched while probe file counts drop by the generation count. */
  def compactClustered(spark: SparkSession, table: String, nFiles: Int,
      clusterCol: String, statsCols: Seq[String] = Nil,
      strStatsCols: Seq[String] = Nil,
      bloomStatsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    rewrite(spark, table, "compact", statsCols = statsCols,
        strStatsCols = strStatsCols, bloomStatsCols = bloomStatsCols) { df =>
      df.repartitionByRange(math.max(1, nFiles), col(clusterCol))
        .sortWithinPartitions(clusterCol)
    }
  }

  /** Full-snapshot rewrite (compaction, re-clustering, merge): run `fn`
    * on the CURRENT snapshot, commit the result as the complete new
    * file list. On CAS conflict the base changed under us, so the
    * transform RE-RUNS against the new snapshot (the orphaned output
    * of the lost round stays invisible; `vacuum` reclaims it) — this is
    * what makes concurrent rewrite+append serializable instead of
    * lost-update-prone. `expectRows(baseRows)` audits the rewrite
    * before commit (None skips, for row-changing rewrites like merge). */
  def rewrite(spark: SparkSession, table: String, action: String,
      expectRows: Long => Option[Long] = n => Some(n),
      statsCols: Seq[String] = Nil, txnId: Option[String] = None,
      strStatsCols: Seq[String] = Nil,
      counterSet: Map[String, Long] = Map.empty,
      bloomStatsCols: Seq[String] = Nil,
      derivedStats: Seq[(String, Column)] = Nil)(
      fn: DataFrame => DataFrame): Long = {
    // the change feed is append-only by construction: refuse the
    // data-changing rewrites it cannot represent (layout-only
    // compact/zorder redistribute already-delivered rows and are fine)
    require(!feedEnabled(table) ||
        action == "compact" || action == "zorder",
      s"rewrite('$action') on feed-enabled table $table: the append-only " +
        "change feed cannot represent a data-changing rewrite — remove " +
        s"${feedDir(table)} to disable the feed first")
    // same idempotence contract as append: a replayed rewrite whose txn
    // already committed is a no-op
    txnId.flatMap(committedTxnVersion(table, _)).foreach(return _)
    commit(table, txnId) { (b, version) =>
      val base = b.getOrElse(
        sys.error(s"rewrite of $table: no committed version"))
      val out = fn(readSnapshot(spark, table, base))
      // an OVERWRITE's content is user-provided and uncertified —
      // CHECK constraints ride the staged-file stats pass as audits
      // (ONE scan certifies stats and checks; a violation throws
      // before any manifest references the batch and writeDataFiles
      // drops the staging). Other rewrite actions carry rows a prior
      // commit already certified: compact/zorder re-layout, "merge"
      // enforced its source at the caller, "delete" keeps survivors.
      val audits =
        if (action == "overwrite")
          checkAudits(table, base.checks, "overwrite")
        else Nil
      val (files, rows) = writeDataFiles(spark, table, out, statsCols,
        strStatsCols, bloomStatsCols, derivedStats, audits)
      expectRows(base.rows).foreach(exp => require(rows == exp,
        s"rewrite audit failed for $table: $rows rows != expected $exp — not committing"))
      // a rewrite replaces the whole file list, so its delta (remove
      // all + add all) would cost the same as a checkpoint — commit it
      // as one, which also keeps delta chains short. Counters carry over
      // verbatim except the keys in `counterSet` — how a content-changing
      // maintenance rewrite (e.g. an index rebalance swinging its pinned
      // codebook version) updates the accounting it invalidates.
      // dels = Nil: a full rewrite MATERIALIZES pending merge-on-read
      // deletes — the transform read the snapshot MOR-aware (deleted
      // rows already absent) and every output file is newer than every
      // sidecar, so the sidecars are spent and vacuum may reclaim them
      Some(Change(action, rows, Some(out.schema.json),
        base.counters ++ counterSet,
        files = Some(files.map(_.copy(ver = version))), dels = Some(Nil)))
    }.version
  }

  /** Small-file compaction through the log: same narrow coalesce as
    * LayoutOps.compact, published as a manifest commit instead of a
    * directory swap. */
  def compact(spark: SparkSession, table: String, targetBytes: Long,
      statsCols: Seq[String] = Nil, strStatsCols: Seq[String] = Nil,
      bloomStatsCols: Seq[String] = Nil): Long =
    rewrite(spark, table, "compact", statsCols = statsCols,
        strStatsCols = strStatsCols,
        bloomStatsCols = bloomStatsCols) { df =>
      val bytes = snapshot(table).get.files
        .map(fileBytes(table, _)).sum
      df.coalesce(math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt))
    }

  /** PARTIAL small-file compaction — the scalable OPTIMIZE: bin-packs
    * only the files smaller than `smallBytes` into ~`smallBytes`-sized
    * outputs and commits a DELTA (removes = the packed small files,
    * adds = their replacements); every file already at size is carried
    * BY REFERENCE, so the commit is O(small files), never O(table) —
    * `compact` (the full rewrite) remains for layout resets, but a
    * 100 TB table under streaming ingest maintains itself with this.
    * The packed subset is scanned MOR- and schema-op-aware, so
    * sidecar-deleted rows vanish from (and renames materialize in) the
    * new files; the sidecars themselves carry over untouched — they
    * still fence the carried files, and an entry whose every fenced
    * file was packed now fences nothing, harmlessly, until a full
    * rewrite retires it. Packing follows manifest order (~write
    * order), so a range-clustered ingest keeps locality within bins.
    * Row-audited against an independent re-scan of the packed subset.
    * Returns the committed version — or the CURRENT version, without
    * a commit, when fewer than `minFiles` files qualify. */
  def compactSmall(spark: SparkSession, table: String, smallBytes: Long,
      minFiles: Int = 2, statsCols: Seq[String] = Nil,
      strStatsCols: Seq[String] = Nil,
      bloomStatsCols: Seq[String] = Nil): Long = {
    // layout-only, so legal on feed tables (same class as compact/
    // zorder: these rows were already delivered; publishFeed's
    // "compact" case publishes nothing)
    commitOn(table) { (base, _) =>
      val sized = base.files.map { f =>
        // manifest-carried size first (the streaming auto-OPTIMIZE
        // tick must not stat O(table) files per run); legacy entries
        // stat once, and a concurrently-vacuumed legacy path reads as
        // not-small — not ours to pack
        f -> (if (f.bytes >= 0) f.bytes
              else try Files.size(Paths.get(table, f.path))
              catch { case _: java.io.IOException => Long.MaxValue })
      }
      // LAYOUT-PRESERVING: a file carrying a z-interval stat is
      // clustering-intentional — blind bin-packing would strip the
      // stat and silently decay box pruning (and then zOrderMaintain
      // would re-cluster what this pass just de-clustered, churning
      // every cycle). Small CLUSTERED files are zOrderMaintain's job
      // (its `smallBytes` parameter packs them z-aware).
      val small = sized.filter { case (f, b) => b < smallBytes &&
        !f.stats.exists(st => isLayoutStat(st.col)) }
      // too few qualify: nothing to commit
      Option.when(small.size >= minFiles) {
        val nOut = math.max(1,
          math.ceil(small.map(_._2).sum.toDouble / smallBytes).toInt)
        val subset = small.map(_._1)
        val (files, newRows) = writeDataFiles(spark, table,
          morScan(spark, table, base, subset).coalesce(nOut),
          statsCols, strStatsCols, bloomStatsCols)
        val scanRows = liveRowsOf(spark, table, base, subset)
        require(newRows == scanRows,
          s"compactSmall audit failed for $table: packed $newRows rows " +
            s"from $scanRows — not committing")
        // sidecars whose every fenced file was packed away (morScan
        // applied them) prune here too. CAS loss: re-read the base and
        // re-pack; the orphaned file set is invisible garbage until vacuum
        Change("compact", base.rows, base.schemaJson, base.counters,
          adds = files, removes = subset.map(_.path), pruneDels = true)
      }
    }.version
  }

  /** Does pending sidecar `d` actually fence file `f` with a possible
    * key hit? A delete at version D applies only to files with
    * `ver < D`, and within those, a file whose key-column stat range
    * is DISJOINT from the sidecar's own key range (both recorded at
    * write time) provably contains no deleted row — its anti-join is
    * a no-op and the fence can be dropped without rewriting it.
    * Absent stats on either side → conservatively fenced. A
    * dead-incarnation file (the key column resolves to no physical
    * column) reads the key as null, which never matches a non-null
    * delete key — not fenced. */
  /** Positional (DELETION-VECTOR) sidecars ride the same `DeleteEntry`
    * plumbing as key sidecars — manifest codec, delta merge, vacuum
    * protection, clone/restore/branch carry, maintenance bounds — under
    * this reserved key-column marker. The sidecar parquet holds
    * `(_dv_file, _dv_pos)`: the target file's last two path segments
    * and the deleted row's `_metadata.row_index`. Unlike key sidecars
    * they apply at read as a codegen'd SCAN FILTER
    * ([[graft.functions.DvContains]]), not an anti-join — and they
    * fence by FILE IDENTITY, not version (paths are never reused), so
    * folding and maintenance need no version-window reasoning. */
  private[graft] val DvKeyCol = "__pos__"
  private[graft] val DvFileField = "_dv_file"
  private[graft] val DvPosField = "_dv_pos"

  /** DV sidecars always carry exactly (_dv_file string, _dv_pos long),
    * written by this engine — reading them with the static schema
    * skips a parquet schema-inference Spark job per load/fold. */
  private val dvPairSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(DvFileField,
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField(DvPosField,
      org.apache.spark.sql.types.LongType)))
  // scan-internal columns positional faces read back; never user-visible
  private[graft] val GraftFileCol = "__graft_file"
  private[graft] val GraftPosCol = "__graft_pos"

  private[graft] def lastTwo(p: String): String = {
    val i = p.lastIndexOf('/')
    val j = if (i <= 0) -1 else p.lastIndexOf('/', i - 1)
    p.substring(j + 1)
  }

  // loaded vectors, keyed by the (immutable) sidecar file set — repeat
  // reads of a DV-bearing table pay zero load after the first plan
  private val dvCache = new java.util.concurrent.ConcurrentHashMap[
    String, graft.functions.DvSet]()

  /** Key-sidecar scan with the inferred schema MEMOIZED per file set:
    * sidecar files are immutable, but a bare `spark.read.parquet`
    * re-runs a schema-inference Spark job on every MOR read that
    * applies the sidecar — pure metadata recomputation ahead of the
    * real scan. Bounded like dvCache. */
  private val sidecarSchemas = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** Evict ONE arbitrary entry when a bounded memo overflows — a
    * wholesale clear() under concurrent readers can wipe entries other
    * threads just paid to compute (racing clears degrade the memo to
    * nothing under table churn); dropping a single key keeps the map
    * bounded with no such window. */
  private def evictOne[V](m: java.util.concurrent.ConcurrentHashMap[
      String, V], bound: Int): Unit =
    if (m.size > bound) {
      val it = m.keySet.iterator()
      if (it.hasNext) { m.remove(it.next()); () }
    }

  private def readSidecars(spark: SparkSession, paths: Seq[String],
      hint: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val key = paths.sorted.mkString("\n")
    val sch = sidecarSchemas.get(key)
    if (sch != null) return spark.read.schema(sch).parquet(paths: _*)
    hint match {
      case Some(h) =>
        // the caller derived the sidecar schema from the manifest (key
        // column + snapshot type): no inference job even on the FIRST
        // read of a fresh file set. A narrower physical type in an
        // old sidecar upcasts at scan under the widen lattice, exactly
        // like data files read under the recorded table schema.
        evictOne(sidecarSchemas, 256)
        sidecarSchemas.put(key, h)
        spark.read.schema(h).parquet(paths: _*)
      case None =>
        val df = spark.read.parquet(paths: _*)
        evictOne(sidecarSchemas, 256)
        sidecarSchemas.put(key, df.schema)
        df
    }
  }

  /** Manifest-derived schema of a KEY sidecar set: one column `k`
    * typed as the snapshot's recorded table schema types it. None on
    * legacy tables (no recorded schema) — the caller falls back to
    * footer inference. */
  private def sidecarHint(schemaJson: Option[String], k: String)
      : Option[org.apache.spark.sql.types.StructType] =
    schemaJson.flatMap { j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fields.find(_.name == k)
        .map(f => org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(k, f.dataType,
            nullable = true))))
    }

  private[graft] def loadDv(spark: SparkSession, table: String,
      dvs: Seq[DeleteEntry]): graft.functions.DvSet = {
    val paths = dvs.map(d => s"$table/${d.file.path}").sorted
    val key = paths.mkString("\n")
    val hit = dvCache.get(key)
    if (hit != null) return hit
    val rows = spark.read.schema(dvPairSchema).parquet(paths: _*)
      .select(org.apache.spark.sql.functions.col(DvFileField),
        org.apache.spark.sql.functions.col(DvPosField))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val set = graft.functions.DvSet(rows)
    evictOne(dvCache, 256)
    dvCache.put(key, set)
    set
  }

  /** The delete entries still worth carrying once `survivors` is the
    * file list: an entry fencing NO surviving file is DEAD — its keys/
    * positions were applied by whatever rewrite or drop removed its
    * targets — and carrying it forever costs every future scan a
    * sidecar load and lets `maintainDvIfHeavy` count dead bytes toward
    * an unnecessary rewrite. `commit` applies it for a
    * `Change.pruneDels` and writes a FULL manifest when anything was
    * pruned (a delta has no del-removal line). O(dels × files) stat
    * comparisons, zero I/O; dels is maintenance-bounded, and the empty
    * common case is free. */
  private def liveDelsAfter(base: Snapshot,
      survivors: Seq[FileEntry]): Seq[DeleteEntry] =
    if (base.dels.isEmpty) Nil
    else base.dels.filter(d =>
      survivors.exists(f => sidecarFences(base, f, d)))

  private[graft] def sidecarFences(s: Snapshot, f: FileEntry,
      d: DeleteEntry): Boolean = {
    if (d.keyCol == DvKeyCol)
      // a deletion vector names its targets by identity: the write-time
      // [min,max] over the stored file keys bounds the target set with
      // zero reads; exact membership resolves at scan time through the
      // loaded vector (a map miss keeps the row). No version fence —
      // a file committed after the DV can never be in its target list.
      return d.file.strStats.find(_.col == DvFileField).forall(st =>
        utf8Leq(st.min, lastTwo(f.path)) &&
          utf8Leq(lastTwo(f.path), st.max))
    if (f.ver >= d.ver) return false
    statNameFor(s, d.keyCol)(f) match {
      case None => false
      case Some(p) =>
        d.file.stats.find(_.col == d.keyCol) match {
          case Some(ks) => f.stats.find(_.col == p).forall(st =>
            st.min <= ks.max && ks.min <= st.max)
          case None => d.file.strStats.find(_.col == d.keyCol) match {
            case Some(ks) => f.strStats.find(_.col == p).forall(st =>
              utf8Leq(st.min, ks.max) && utf8Leq(ks.min, st.max))
            case None => true
          }
        }
    }
  }

  /** MOR sidecar MAINTENANCE — the read-amplification bound the
    * merge-on-read faces need at scale. Every `updateMor`/`mergeMor`/
    * `deleteMor`/`applyCdcMor` commit adds a delete sidecar, and
    * `morScan` pays one anti-join per (cohort × key column) per read;
    * nothing retires sidecars except a full rewrite the user must
    * remember to run. This face IS the policy: a no-op while the
    * pending sidecar count and total bytes stay within bounds, and a
    * targeted MATERIALIZATION when either is crossed — rewriting ONLY
    * the files a sidecar fences with a possible key hit
    * (`sidecarFences`: version fence + write-time stat disjointness,
    * so a clustered table rewrites the overlapping slice, not itself),
    * carrying everything else by reference, and committing a full
    * manifest with ZERO pending sidecars. Layout-only by construction
    * (sidecar-deleted rows were already subtracted and captured at
    * their own commits), so it is feed-safe and results are
    * byte-identical before/after — spec-pinned. Returns the committed
    * version, or the current one when within bounds. Default bound of
    * 8 sidecars: read overhead is one broadcast-anti-join per sidecar
    * key column per cohort, and cohort count grows with distinct
    * sidecar versions — see DEVNOTES for the measured read-cost curve
    * that set the default. */
  def morMaintain(spark: SparkSession, table: String,
      maxSidecars: Int = 8, maxSidecarBytes: Long = Long.MaxValue,
      statsCols: Seq[String] = Nil, strStatsCols: Seq[String] = Nil,
      bloomStatsCols: Seq[String] = Nil): Long =
    commitOn(table) { (base, _) =>
      // within bounds: nothing to materialize
      Option.when(base.dels.size > maxSidecars ||
          base.dels.map(d => fileBytes(table, d.file)).sum >
            maxSidecarBytes) {
        val affected = base.files.filter(f =>
          base.dels.exists(d => sidecarFences(base, f, d)))
        val (files, newRows) =
          if (affected.isEmpty) (Nil, 0L)
          else writeDataFiles(spark, table,
            morScan(spark, table, base, affected),
            statsCols, strStatsCols, bloomStatsCols)
        require(newRows <= base.rows,
          s"morMaintain audit failed for $table: materialized $newRows " +
            s"rows > table rows ${base.rows} — not committing")
        // clearing pending sidecars restates the complete (empty) set,
        // which only a full manifest can carry
        Change("mor_materialize", base.rows, base.schemaJson,
          base.counters, adds = files, removes = affected.map(_.path),
          dels = Some(Nil))
      }
    }.version

  /** Write a frame's data files into `table` WITHOUT committing —
    * the staging half of the catalog's ATOMIC CTAS/RTAS
    * (`GraftStagedTable`): the files land under `data/<uuid>/`
    * invisible to every reader until `commitStaged` publishes them in
    * ONE manifest, and an abort just deletes them. Same stat
    * derivation as every committed write. */
  private[graft] def stageDataFiles(spark: SparkSession, table: String,
      df: DataFrame, statsCols: Seq[String],
      strStatsCols: Seq[String] = Nil,
      bloomStatsCols: Seq[String] = Nil): (Seq[FileEntry], Long) =
    writeDataFiles(spark, table, df, statsCols, strStatsCols,
      bloomStatsCols)

  /** Publish staged files as ONE commit: version 1 (`create`) on a
    * fresh table, or — `replace` — the whole-table overwrite on an
    * existing one (history keeps the prior version readable, exactly
    * the view-face REPLACE semantics; the non-atomic DSv2 fallback
    * would DROP the table and erase its history instead). CAS-retries
    * like every commit; a racing create loses loudly. */
  private[graft] def commitStaged(table: String, files: Seq[FileEntry],
      rows: Long, schemaJson: String, replace: Boolean): Long =
    commit(table) { (b, version) =>
      b.foreach { cur =>
        require(replace, s"commitStaged($table): table already has " +
          s"${cur.version} committed version(s) and this stage was a " +
          "plain CREATE — a concurrent writer won the race")
        require(!feedEnabled(table),
          s"commitStaged($table): the append-only change feed cannot " +
            "represent a whole-table replace")
      }
      Some(Change(if (b.isEmpty) "create" else "overwrite", rows,
        Some(schemaJson), b.map(_.counters).getOrElse(Map.empty[String, Long]),
        files = Some(files.map(_.copy(ver = version))), dels = Some(Nil)))
    }.version

  /** FOLD pending MOR delete sidecars — the cheap maintenance step
    * between `morMaintain` materializations: many small sidecar key
    * files become few, with ZERO data-file rewrites, so a
    * delete-burst table (GDPR sweeps, retention ticks — deleteMor
    * once per key batch) stops paying one file-open per sidecar per
    * read. Soundness is all about the VERSION FENCE: a sidecar at
    * version v deletes only from files with ver < v, so two sidecars
    * d₁@v₁ < d₂@v₂ of the same key column may merge — stamped at the
    * LATER version v₂ (read-equivalent to v₁ under the run rule, but
    * v₂ keeps the in-flight statements' `ver > planVersion` commit
    * fence conservative; see the in-body comment) — only when NO
    * current data file has ver in [v₁, v₂): such a file is fenced by
    * d₂ but not d₁, so a merged entry at either endpoint would fence
    * it wrongly. Files AT exactly v₂ (re-inserted images) stay
    * unfenced at both endpoints (`f.ver >= d.ver`). Update/merge-MOR
    * commits stamp their new-image files AT the sidecar's own
    * version, so their windows never fold across — exactly right,
    * since those files carry the re-inserted images. Folds are
    * maximal runs under that rule, per key column; a fold writes one
    * coalesced, stat-carrying key file per group (keys are already
    * distinct per sidecar; the union distincts again) and commits a
    * full manifest whose delete set swaps the group for its fold —
    * rows, files, schema untouched; the old key files become
    * unreferenced and vacuum reclaims them. No-op (current version)
    * when no group has ≥ 2 members. */
  def morFold(spark: SparkSession, table: String): Long = {
    import org.apache.spark.sql.functions.col
    commitOn(table) { (base, _) =>
      val fileVers = base.files.map(_.ver).toSet
      def blocked(v1: Long, v2: Long): Boolean =
        (v1 until v2).exists(fileVers)
      // DELETION VECTORS fence by file identity, not version — every
      // pending vector folds into one, unconditionally (the window
      // rule below exists only for version-fenced key sidecars)
      val (dvD, keyD) = base.dels.partition(_.keyCol == DvKeyCol)
      // maximal foldable runs per key column, ascending by version
      val groups: Seq[Seq[DeleteEntry]] =
        keyD.groupBy(_.keyCol).toSeq.sortBy(_._1).flatMap {
          case (_, ds) =>
            val sorted = ds.sortBy(_.ver)
            val runs = scala.collection.mutable.ArrayBuffer(
              scala.collection.mutable.ArrayBuffer(sorted.head))
            sorted.tail.foreach { d =>
              if (!blocked(runs.last.last.ver, d.ver)) runs.last += d
              else runs += scala.collection.mutable.ArrayBuffer(d)
            }
            runs.map(_.toSeq).toSeq
        }
      // fewer than two foldable sidecars: nothing to fold
      Option.when(groups.exists(_.size >= 2) || dvD.size >= 2) {
        // Folded entries are stamped at the run's MAX member version,
        // not the min (round-20 race fix). Read-equivalent under the run
        // rule: no live file has ver in [vMin, vMax) (`blocked`), files
        // AT vMax are excluded by the fence's `f.ver >= d.ver` at either
        // endpoint, and deletion vectors ignore version entirely at
        // read. But the COMMIT fence is version-keyed: in-flight
        // positional statements check `dels.filter(_.ver > planVersion)`
        // (writeDeltaCommit / replaceFilesCommit) — a member committed
        // AFTER a statement's planVersion, folded and re-stamped at
        // vMin <= planVersion, would escape that fence and let the
        // statement commit against positions its scan never saw
        // (silent row resurrection on COW rewrites). vMax keeps every
        // member that was fence-visible fence-visible through the fold.
        val folded: Seq[DeleteEntry] = groups.flatMap { g =>
          if (g.size < 2) g
          else {
            val k = g.head.keyCol
            val vMax = g.map(_.ver).max
            val keys = readSidecars(spark,
              g.map(d => s"$table/${d.file.path}"),
              sidecarHint(base.schemaJson, k))
              .select(col(k)).distinct().coalesce(1)
            val isString = keys.schema(k).dataType ==
              org.apache.spark.sql.types.StringType
            val (fs, _) = writeDataFiles(spark, table, keys,
              if (isString) Nil else Seq(k),
              if (isString) Seq(k) else Nil, Nil)
            fs.map(f => DeleteEntry(f.copy(ver = vMax), k, vMax))
          }
        } ++ (if (dvD.size < 2) dvD
          else {
            val vMax = dvD.map(_.ver).max
            val pairs = spark.read.schema(dvPairSchema).parquet(
              dvD.map(d => s"$table/${d.file.path}"): _*)
              .select(col(DvFileField), col(DvPosField)).distinct()
              .coalesce(1)
            val (fs, _) = writeDataFiles(spark, table, pairs,
              Seq(DvPosField), Seq(DvFileField), Nil)
            fs.map(f => DeleteEntry(f.copy(ver = vMax), DvKeyCol, vMax))
          })
        // the folded set restates the delete list: a full manifest
        Change("mor_fold", base.rows, base.schemaJson, base.counters,
          dels = Some(folded))
      }
    }.version
  }

  /** Declarative maintenance policy for `maintain` — which of the
    * three incremental ticks run and their thresholds. Each is
    * O(affected files), never O(table), so one `maintain` call per
    * ingest cycle is the whole OPTIMIZE story for a streaming
    * lakehouse table:
    *   - `smallFileBytes`: bin-pack files under this size
    *     (`compactSmall`);
    *   - `maxSidecars`/`maxSidecarBytes`: materialize pending MOR
    *     delete sidecars past either bound (`morMaintain`);
    *   - `clusterTailBytes`: re-cluster the unclustered tail under
    *     the table's existing z layout, if one exists
    *     (`zOrderMaintain`, skipped on never-clustered tables);
    *   - `vacuumKeepVersions`: drop history beyond the last N
    *     versions (tags keep their protection). */
  final case class MaintainPolicy(
      smallFileBytes: Option[Long] = None,
      maxSidecars: Option[Int] = None,
      maxSidecarBytes: Option[Long] = None,
      clusterTailBytes: Option[Long] = None,
      vacuumKeepVersions: Option[Int] = None)

  /** Run every tick the policy enables, in dependency order —
    * sidecar materialization first (it may create small files),
    * clustering second (it consumes unclustered files compaction
    * would otherwise merge blindly), bin-packing third, vacuum last
    * (earlier ticks retire references). Returns the table's version
    * after maintenance. */
  def maintain(spark: SparkSession, table: String,
      policy: MaintainPolicy, statsCols: Seq[String] = Nil,
      strStatsCols: Seq[String] = Nil,
      bloomStatsCols: Seq[String] = Nil): Long = {
    if (policy.maxSidecars.isDefined || policy.maxSidecarBytes.isDefined)
      morMaintain(spark, table,
        maxSidecars = policy.maxSidecars.getOrElse(Int.MaxValue),
        maxSidecarBytes = policy.maxSidecarBytes.getOrElse(Long.MaxValue),
        statsCols = statsCols, strStatsCols = strStatsCols,
        bloomStatsCols = bloomStatsCols)
    policy.clusterTailBytes.foreach { b =>
      val hasLayout = snapshot(table).exists(_.files.exists(
        _.stats.exists(st => isLayoutStat(st.col))))
      if (hasLayout)
        zOrderMaintain(spark, table, targetBytes = b,
          statsCols = statsCols, strStatsCols = strStatsCols,
          bloomStatsCols = bloomStatsCols,
          smallBytes = policy.smallFileBytes.getOrElse(0L))
    }
    policy.smallFileBytes.foreach(b =>
      compactSmall(spark, table, b, statsCols = statsCols,
        strStatsCols = strStatsCols, bloomStatsCols = bloomStatsCols))
    policy.vacuumKeepVersions.foreach(n =>
      vacuum(spark, table, keepVersions = n))
    latestVersion(table)
  }

  /** Z-order re-cluster through the log (LayoutOps.zOrderWrite layout,
    * manifest-committed). Each output file additionally records its
    * Z-VALUE interval as a derived manifest stat (name
    * `z2|colA|colB|aLo|aHi|bLo|bHi` — the normalization params ride in
    * the name so a reader reconstructs the same cell mapping), which
    * is what makes MULTI-DIMENSIONAL box pruning possible: a
    * z-clustered file's per-column bounding box can overlap a query
    * box the curve never actually visits inside it, and the z-interval
    * test (`ZOrderLong.zBoxIntersects`) prunes exactly those files —
    * see `prunedFilesByBox`/`readWhereBox` and the declarative face's
    * conjunction pass. Raw stats for both z columns are always
    * recorded too: the box test is only SOUND for files whose data
    * lies within the declared normalization ranges (outside them the
    * masked interleave is non-monotone), and the raw stats are how the
    * reader proves that per file. */
  def zOrder(spark: SparkSession, table: String, nFiles: Int,
      colA: String, rangeA: (Long, Long), colB: String,
      rangeB: (Long, Long), statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    import graft.operators.LayoutOps.norm16
    def z = graft.functions.ZOrderLong.zOrder(
      norm16(col(colA), rangeA._1, rangeA._2),
      norm16(col(colB), rangeB._1, rangeB._2))
    rewrite(spark, table, "zorder",
        statsCols = (statsCols ++ Seq(colA, colB)).distinct,
        derivedStats = Seq(
          z2StatName(colA, colB, rangeA, rangeB) -> z)) { df =>
      df.withColumn("__z", z)
        .repartitionByRange(nFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    }
  }

  /** The derived-stat name a z-order rewrite records its z-interval
    * under: `z2|colA|colB|aLo|aHi|bLo|bHi` — '|'-separated because the
    * manifest entry codec reserves ';' and ':'. */
  private[graft] def z2StatName(colA: String, colB: String,
      rangeA: (Long, Long), rangeB: (Long, Long)): String =
    s"z2|$colA|$colB|${rangeA._1}|${rangeA._2}|${rangeB._1}|${rangeB._2}"

  /** A curve-interval layout stat of any kind (Morton 2-D/3-D or
    * Hilbert 2-D) — the marker every layout-aware pass tests: box
    * pruning consumes it, compactSmall refuses to strip it,
    * zOrderMaintain re-clusters under it, the streaming auto-tick
    * fires on it. */
  private[graft] def isLayoutStat(n: String): Boolean =
    n.startsWith("z2|") || n.startsWith("z3|") || n.startsWith("h2|") ||
      n.startsWith("h3|")

  /** HILBERT-curve twin of [[zOrder]]: same normalization, same
    * derived-interval stat contract (`h2|colA|colB|aLo|aHi|bLo|bHi`),
    * same maintenance story (`zOrderMaintain` reads the spec kind from
    * the stat name and re-clusters under the same curve) — but sorted
    * by the Hilbert index, whose unit-step continuity keeps each
    * file's curve run inside a tighter spatial region than Morton's
    * quadrant jumps. Measured (`tools.CurveStats`, non-power-of-4 file
    * counts where files straddle quadrant boundaries — real layouts):
    * 10–22% fewer files opened per query box at 1024-to-16384-cell box
    * sizes and on 16:1 skewed boxes, ties on boxes smaller than a
    * file's cell footprint. Prefer it for new 2-D layouts; `zOrder`
    * stays for 3-D (Hilbert-3 state tables buy little once files are
    * coarser than quadrants) and for existing z tables. */
  def hilbertOrder(spark: SparkSession, table: String, nFiles: Int,
      colA: String, rangeA: (Long, Long), colB: String,
      rangeB: (Long, Long), statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    import graft.operators.LayoutOps.norm16
    def h = graft.functions.HilbertLong.hilbert(
      norm16(col(colA), rangeA._1, rangeA._2),
      norm16(col(colB), rangeB._1, rangeB._2))
    rewrite(spark, table, "zorder",
        statsCols = (statsCols ++ Seq(colA, colB)).distinct,
        derivedStats = Seq(
          h2StatName(colA, colB, rangeA, rangeB) -> h)) { df =>
      df.withColumn("__h", h)
        .repartitionByRange(nFiles, col("__h"))
        .sortWithinPartitions("__h")
        .drop("__h")
    }
  }

  private[graft] def h2StatName(colA: String, colB: String,
      rangeA: (Long, Long), rangeB: (Long, Long)): String =
    s"h2|$colA|$colB|${rangeA._1}|${rangeA._2}|${rangeB._1}|${rangeB._2}"

  /** THREE-column z-order re-cluster — `zOrder`'s n-ary step for the
    * natural training-data layout (source × time × length). Sorts by
    * the 48-bit 3-ary Morton interleave (`ZOrder3Long`) of the
    * 16-bit-normalized columns and records each file's z3-interval as
    * derived stat `z3|cA|cB|cC|aLo|aHi|bLo|bHi|cLo|cHi`, which
    * `prunedFilesByBox` tests with the OCTREE walk
    * (`ZOrderLong.zBox3Intersects`) — 2- or 3-column conjunction
    * boxes both tighten (a missing dimension tests as full-range).
    * Raw per-column stats always ride too: the box test is only
    * sound for files proven inside the declared normalization
    * ranges. */
  def zOrder3(spark: SparkSession, table: String, nFiles: Int,
      colA: String, rangeA: (Long, Long), colB: String,
      rangeB: (Long, Long), colC: String, rangeC: (Long, Long),
      statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    import graft.operators.LayoutOps.norm16
    def z = graft.functions.ZOrderLong.zOrder3(
      norm16(col(colA), rangeA._1, rangeA._2),
      norm16(col(colB), rangeB._1, rangeB._2),
      norm16(col(colC), rangeC._1, rangeC._2))
    rewrite(spark, table, "zorder",
        statsCols = (statsCols ++ Seq(colA, colB, colC)).distinct,
        derivedStats = Seq(
          z3StatName(colA, colB, colC, rangeA, rangeB, rangeC) -> z)) {
      df =>
        df.withColumn("__z", z)
          .repartitionByRange(nFiles, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
    }
  }

  private[graft] def z3StatName(colA: String, colB: String, colC: String,
      rangeA: (Long, Long), rangeB: (Long, Long),
      rangeC: (Long, Long)): String =
    s"z3|$colA|$colB|$colC|${rangeA._1}|${rangeA._2}|" +
      s"${rangeB._1}|${rangeB._2}|${rangeC._1}|${rangeC._2}"

  /** HILBERT-3 twin of [[zOrder3]] — the adjudicated (tools.
    * CurveStats3, non-power-of-8 file counts) 3-D clustering verb:
    * 11–21% fewer files opened per selective query box than Morton-3
    * (cube-8192 ×0.87–0.90, 32:1 slab ×0.81, 32:1:1 rod ×0.79–0.84
    * at 300/1500/6000 files), ties only on boxes smaller than a
    * file's cell footprint. Same spec contract (`h3|…`, ten fields
    * like z3), same maintenance (`zOrderMaintain` reads the kind from
    * the stat name), pruned by the DECODE-ONLY exact interval test
    * ([[graft.functions.Hilbert3.h3BoxIntersects]]). */
  def hilbertOrder3(spark: SparkSession, table: String, nFiles: Int,
      colA: String, rangeA: (Long, Long), colB: String,
      rangeB: (Long, Long), colC: String, rangeC: (Long, Long),
      statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    import graft.operators.LayoutOps.norm16
    def h = graft.functions.Hilbert3.hilbert3(
      norm16(col(colA), rangeA._1, rangeA._2),
      norm16(col(colB), rangeB._1, rangeB._2),
      norm16(col(colC), rangeC._1, rangeC._2))
    rewrite(spark, table, "zorder",
        statsCols = (statsCols ++ Seq(colA, colB, colC)).distinct,
        derivedStats = Seq(
          h3StatName(colA, colB, colC, rangeA, rangeB, rangeC) -> h)) {
      df =>
        df.withColumn("__h", h)
          .repartitionByRange(nFiles, col("__h"))
          .sortWithinPartitions("__h")
          .drop("__h")
    }
  }

  private[graft] def h3StatName(colA: String, colB: String, colC: String,
      rangeA: (Long, Long), rangeB: (Long, Long),
      rangeC: (Long, Long)): String =
    s"h3|$colA|$colB|$colC|${rangeA._1}|${rangeA._2}|" +
      s"${rangeB._1}|${rangeB._2}|${rangeC._1}|${rangeC._2}"

  /** INCREMENTAL z-order maintenance — the clustering twin of
    * `compactSmall`. Streaming appends (and stat-only delete
    * rewrites) land WITHOUT the table's z stat, so box pruning
    * degrades file by file while the only remedy was `zOrder`'s
    * O(table) full rewrite. This face re-clusters ONLY the
    * unclustered tail: files carrying no z-interval stat are read
    * MOR-aware, sorted by the table's existing clustering spec (taken
    * from the newest clustered file's `z2|`/`z3|` stat — layout
    * rewrites stamp every output, so the newest is the current
    * intent; physical spec columns re-resolve to their CURRENT
    * logical names across renames), written as ~`targetBytes` files
    * stamped with the spec under today's names, and committed as a
    * DELTA — every already-clustered file carries by reference, so
    * the tick is O(new data), never O(table). Appended values
    * OUTSIDE the spec's declared normalization ranges stay correct
    * but un-boxable (the reader's in-range proof skips the z test
    * for such files; raw per-column stats still prune) — re-run
    * `zOrder`/`zOrder3` with wider ranges to reset the layout.
    * Returns the committed version, or the current one when fewer
    * than `minFiles` files are unclustered. */
  def zOrderMaintain(spark: SparkSession, table: String,
      targetBytes: Long = 128L << 20, minFiles: Int = 2,
      statsCols: Seq[String] = Nil, strStatsCols: Seq[String] = Nil,
      bloomStatsCols: Seq[String] = Nil, smallBytes: Long = 0L): Long = {
    import org.apache.spark.sql.functions.col
    commitOn(table) { (base, _) =>
      def isZ(n: String) = isLayoutStat(n)
      val clustered = base.files.filter(_.stats.exists(st => isZ(st.col)))
      if (clustered.isEmpty) sys.error(
        s"zOrderMaintain($table): no z-ordered layout to maintain — " +
          "run zOrder/zOrder3 first")
      val refFile = clustered.maxBy(_.ver)
      val spec = refFile.stats.find(st => isZ(st.col)).get.col
      // the rewrite set: every unclustered file, plus — when
      // `smallBytes` > 0 — clustered FRAGMENTS under that size
      // (repeated maintenance ticks leave small z files behind;
      // compactSmall deliberately refuses to touch them because blind
      // packing would strip the z stat, so z-aware re-packing lives
      // here, where the output keeps the spec)
      val unclustered = base.files.filterNot(_.stats.exists(st =>
        isZ(st.col))) ++
        (if (smallBytes <= 0) Nil
         else clustered.filter(f => fileBytes(table, f) < smallBytes))
      // too few unclustered files: nothing to maintain
      Option.when(unclustered.size >= minFiles) {
        val parts = spec.split('|')
        val (physCols, zRanges) =
          if (parts(0) == "z2" || parts(0) == "h2")
            (Seq(parts(1), parts(2)),
              Seq((parts(3).toLong, parts(4).toLong),
                (parts(5).toLong, parts(6).toLong)))
          else
            (Seq(parts(1), parts(2), parts(3)),
              Seq((parts(4).toLong, parts(5).toLong),
                (parts(6).toLong, parts(7).toLong),
                (parts(8).toLong, parts(9).toLong)))
        // spec columns are PHYSICAL as of the clustering rewrite;
        // re-resolve each against the current schema so a rename since
        // then clusters (and stamps) under today's logical names
        val logicalNames: Seq[String] = {
          val cols = tableSchemaOf(table).map(_.fieldNames.toSeq)
            .getOrElse(physCols)
          physCols.map(p => cols.find(l =>
            statNameFor(base, l)(refFile).contains(p)).getOrElse(sys.error(
            s"zOrderMaintain($table): clustered column '$p' no longer " +
              "resolves (renamed away or dropped) — re-run zOrder with " +
              "the current columns")))
        }
        import graft.operators.LayoutOps.norm16
        def z = {
          val n = logicalNames.zip(zRanges).map { case (c, (lo, hi)) =>
            norm16(col(c), lo, hi) }
          if (parts(0) == "h2")
            graft.functions.HilbertLong.hilbert(n(0), n(1))
          else if (parts(0) == "h3")
            graft.functions.Hilbert3.hilbert3(n(0), n(1), n(2))
          else if (n.size == 2) graft.functions.ZOrderLong.zOrder(n(0), n(1))
          else graft.functions.ZOrderLong.zOrder3(n(0), n(1), n(2))
        }
        val newSpec =
          if (parts(0) == "h2")
            h2StatName(logicalNames(0), logicalNames(1),
              zRanges(0), zRanges(1))
          else if (parts(0) == "h3")
            h3StatName(logicalNames(0), logicalNames(1), logicalNames(2),
              zRanges(0), zRanges(1), zRanges(2))
          else if (logicalNames.size == 2)
            z2StatName(logicalNames(0), logicalNames(1),
              zRanges(0), zRanges(1))
          else
            z3StatName(logicalNames(0), logicalNames(1), logicalNames(2),
              zRanges(0), zRanges(1), zRanges(2))
        val bytes = unclustered.map(fileBytes(table, _)).sum
        val nOut = math.max(1,
          math.ceil(bytes.toDouble / targetBytes).toInt)
        val (files, newRows) = writeDataFiles(spark, table,
          morScan(spark, table, base, unclustered)
            .withColumn("__z", z)
            .repartitionByRange(nOut, col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z"),
          (statsCols ++ logicalNames).distinct, strStatsCols,
          bloomStatsCols, derivedStats = Seq(newSpec -> z))
        val scanRows = liveRowsOf(spark, table, base, unclustered)
        require(newRows == scanRows,
          s"zOrderMaintain audit failed for $table: clustered $newRows " +
            s"rows from $scanRows — not committing")
        Change("zorder", base.rows, base.schemaJson, base.counters,
          adds = files, removes = unclustered.map(_.path))
      }
    }.version
  }

  /** MULTI-DIMENSIONAL box prune: given per-column long range
    * constraints (the query box), drop every file whose recorded
    * z-interval provably contains NO cell of the box — the tightening
    * per-column stats cannot see (a file spanning a z-quadrant
    * boundary has a full-table bounding box but a narrow z run).
    * Sound exactly when (1) the file carries a `z2` stat whose two
    * columns resolve to BOTH-constrained query columns (physical
    * names, rename-aware), and (2) the file's raw stats prove its
    * data lies inside the declared normalization ranges — otherwise
    * the file is kept and per-column pruning still applies. Query
    * bounds clamp into the declared ranges (data is in-range by (2),
    * so the clamp loses nothing); a bound-empty clamp proves the file
    * matchless. Stats prune IO, never semantics. */
  private[graft] def prunedFilesByBox(s: Snapshot,
      ranges: Map[String, (Long, Long)]): Seq[FileEntry] = {
    if (ranges.size < 2) return s.files
    val physOf = ranges.keys.map(c => c -> statNameFor(s, c)).toMap
    s.files.filter { f =>
      val zs = f.stats.filter(st => isLayoutStat(st.col))
      if (zs.isEmpty) true
      else {
        val phys: Map[String, String] = ranges.keys.flatMap(c =>
          physOf(c)(f).map(_ -> c)).toMap // physical -> logical
        zs.forall { st =>
          // (physical col, declared lo, declared hi) per curve dim —
          // z2 and h2 share the shape, the test dispatches on kind
          val dims: Seq[(String, Long, Long)] = st.col.split('|') match {
            case Array("z2" | "h2", pa, pb, aLoS, aHiS, bLoS, bHiS) =>
              Seq((pa, aLoS.toLong, aHiS.toLong),
                (pb, bLoS.toLong, bHiS.toLong))
            case Array("z3" | "h3", pa, pb, pc, aLoS, aHiS, bLoS, bHiS,
                cLoS, cHiS) =>
              Seq((pa, aLoS.toLong, aHiS.toLong),
                (pb, bLoS.toLong, bHiS.toLong),
                (pc, cLoS.toLong, cHiS.toLong))
            case _ => Nil // unrecognized stat shape: keep
          }
          if (dims.isEmpty) true
          else {
            // per dimension: the query bound clamped into the declared
            // range, or the full declared range when the query leaves
            // the column unconstrained (sound — data is in-range by
            // the proof below, and a full-range dim just widens the
            // box)
            val q = dims.map { case (p, mn, mx) =>
              phys.get(p).flatMap(ranges.get) match {
                case Some((ql, qh)) =>
                  (math.max(ql, mn), math.min(qh, mx), true)
                case None => (mn, mx, false)
              }
            }
            // the box test needs in-range data on EVERY dim: prove it
            // from the file's raw stats, else skip the test (keep)
            val inRange = dims.forall { case (p, mn, mx) =>
              f.stats.find(_.col == p).exists(r =>
                r.min >= mn && r.max <= mx)
            }
            if (!q.exists(_._3) || !inRange) true
            else if (q.exists { case (l, h, _) => l > h })
              false // box ∩ declared range = ∅
            else {
              import graft.operators.LayoutOps.norm16Scalar
              val n = dims.zip(q).map { case ((_, mn, mx), (l, h, _)) =>
                (norm16Scalar(l, mn, mx), norm16Scalar(h, mn, mx))
              }
              if (st.col.startsWith("h2|"))
                graft.functions.HilbertLong.hBoxIntersects(
                  st.min, st.max, n(0)._1, n(0)._2, n(1)._1, n(1)._2)
              else if (st.col.startsWith("h3|"))
                graft.functions.Hilbert3.h3BoxIntersects(
                  st.min, st.max, n(0)._1, n(0)._2, n(1)._1, n(1)._2,
                  n(2)._1, n(2)._2)
              else if (dims.size == 2)
                graft.functions.ZOrderLong.zBoxIntersects(
                  st.min, st.max, n(0)._1, n(0)._2, n(1)._1, n(1)._2)
              else
                graft.functions.ZOrderLong.zBox3Intersects(
                  st.min, st.max, n(0)._1, n(0)._2, n(1)._1, n(1)._2,
                  n(2)._1, n(2)._2)
            }
          }
        }
      }
    }
  }

  /** Explicit 2-D box read: per-column range pruning, then the
    * z-interval box prune (`prunedFilesByBox`) on z-ordered tables,
    * then the residual filter — the face a `readWhere(cA).where(cB)`
    * caller upgrades to when the table is z-clustered on (cA, cB).
    * The declarative `scan` face applies the same tightening to any
    * SQL/DataFrame conjunction automatically. */
  def readWhereBox(spark: SparkSession, table: String,
      cA: String, aLo: Long, aHi: Long,
      cB: String, bLo: Long, bHi: Long): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val s = snapshotOrFail(table)
    val ranged = prunedFilesOf(
      s.copy(files = prunedFilesOf(s, cA, aLo, aHi)), cB, bLo, bHi)
    val kept = prunedFilesByBox(s.copy(files = ranged),
      Map(cA -> (aLo, aHi), cB -> (bLo, bHi)))
    morScan(spark, table, s, kept)
      .where(coalesce(col(cA).cast("long").between(aLo, aHi), lit(false)))
      .where(coalesce(col(cB).cast("long").between(bLo, bHi), lit(false)))
  }

  /** Stats-pruned COPY-ON-WRITE delete: remove the rows where `c` (cast
    * to long) falls in `[lo, hi]`, rewriting ONLY the files whose
    * manifest stat range overlaps the predicate — every other file
    * carries over BY REFERENCE (same path, never read, never copied),
    * and the commit is a delta manifest (removes = affected paths,
    * adds = their rewritten remainders). Delete cost is therefore
    * O(affected files + manifest), not O(table): on a range-clustered
    * 100 TB table a narrow delete (GDPR erasure, bad-ingest rollback)
    * touches a handful of files while a full-snapshot rewrite would
    * stream the whole table through the cluster. NULL values of `c`
    * never match the range and are kept. Rows are audited
    * (new = affectedScan − matched, total = base − matched); commits
    * CAS-retry against racing appends like every other writer. Returns
    * the committed version (the CURRENT version unchanged if no file
    * can contain a match — a no-op makes no commit). */
  /** Live (post-sidecar) row count of `affected` under snapshot
    * `base`, METADATA-SIDE when provable: the manifest carries each
    * file's write-time footer count, and a deletion vector's removals
    * are its recorded (deduped) positions per file — so the count
    * needs ZERO data reads. At 100 TB an affected slice can be TBs,
    * and the group-rewrite faces (delete/update/replace) used to pay a
    * full `morScan().count()` per CAS attempt just to AUDIT a number
    * the metadata already proves. KEY sidecars remove a DATA-dependent
    * row count (anti-join), so a key-fenced affected file — or a
    * legacy entry without a recorded count — falls back to the
    * counting scan; `spark.graft.mutation.auditScan=true` (or the
    * legacy `spark.graft.replaceWhere.auditScan`) keeps the two-scan
    * cross-check for audit runs. */
  private def liveRowsOf(spark: SparkSession, table: String,
      base: Snapshot, affected: Seq[FileEntry]): Long = {
    if (affected.isEmpty) return 0L
    val keyFenced = affected.exists(f =>
      base.dels.exists(d => d.keyCol != DvKeyCol &&
        sidecarFences(base, f, d)))
    if (keyFenced || affected.exists(_.rows < 0L))
      return morScan(spark, table, base, affected).count()
    val dvs = base.dels.filter(d => d.keyCol == DvKeyCol &&
      affected.exists(f => sidecarFences(base, f, d)))
    val vectored =
      if (dvs.isEmpty) 0L
      else {
        val dv = loadDv(spark, table, dvs)
        affected.map(f => dv.positionsFor(lastTwo(f.path))).sum
      }
    val derived = affected.map(_.rows).sum - vectored
    val audit =
      spark.conf.get("spark.graft.mutation.auditScan", "false").toBoolean ||
      spark.conf.get("spark.graft.replaceWhere.auditScan", "false").toBoolean
    if (audit) {
      val counted = morScan(spark, table, base, affected).count()
      require(counted == derived,
        s"liveRowsOf audit scan on $table: manifest-derived " +
          s"live count $derived != counted $counted over " +
          s"${affected.size} affected files")
    }
    derived
  }

  def deleteWhere(spark: SparkSession, table: String, c: String,
      lo: Long, hi: Long, statsCols: Seq[String] = Nil,
      strStatsCols: Seq[String] = Nil, txnId: Option[String] = None,
      bloomStatsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    deleteImpl(spark, table, prunedFilesOf(_, c, lo, hi),
      // NULL is not in any range: keep it (a bare !between would turn
      // NULL comparisons into silent deletions)
      _.where(coalesce(!col(c).cast("long").between(lo, hi), lit(true))),
      statsCols, strStatsCols, txnId, bloomStatsCols)
  }

  /** Categorical twin of `deleteWhere`: remove the rows where string
    * column `c` is one of `values`, pruning by the manifest's STRING
    * file stats — the "erase everything from a revoked source / user"
    * shape. Same by-reference carry, audit, NULL-keep, no-op and
    * feed-refusal contract. */
  def deleteWhereIn(spark: SparkSession, table: String, c: String,
      values: Seq[String], statsCols: Seq[String] = Nil,
      strStatsCols: Seq[String] = Nil, txnId: Option[String] = None,
      bloomStatsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    deleteImpl(spark, table, prunedFilesInOf(_, c, values),
      _.where(coalesce(!col(c).isin(values: _*), lit(true))),
      statsCols, strStatsCols, txnId, bloomStatsCols)
  }

  private def deleteImpl(spark: SparkSession, table: String,
      affectedOf: Snapshot => Seq[FileEntry],
      keep: DataFrame => DataFrame, statsCols: Seq[String],
      strStatsCols: Seq[String], txnId: Option[String],
      bloomStatsCols: Seq[String]): Long = {
    require(!feedEnabled(table) || cdcFeedEnabled(table),
      s"delete on feed-enabled table $table: the append-only change " +
        s"feed cannot represent a delete — enableCdcFeed($table) to " +
        "capture deletes as typed rows, or remove " +
        s"${feedDir(table)} to disable the feed")
    txnId.flatMap(committedTxnVersion(table, _)).foreach(return _)
    val landed = commitOn(table, txnId) { (base, _) =>
      val affected = affectedOf(base)
      // no file can hold a match: nothing to commit
      Option.when(affected.nonEmpty) {
        // MOR-aware: pending delete sidecars apply to the scan, so a
        // rewrite can never resurrect a merge-on-read-deleted row
        val scan = morScan(spark, table, base, affected)
        val scanRows = liveRowsOf(spark, table, base, affected)
        val (newFiles, newRows) = writeDataFiles(spark, table, keep(scan),
          statsCols, strStatsCols, bloomStatsCols)
        require(newRows <= scanRows,
          s"delete audit failed for $table: rewrite produced $newRows " +
            s"rows from $scanRows — not committing")
        // sidecars whose every fenced file this rewrite replaced
        // (morScan applied them) are pruned
        Change("delete", base.rows - (scanRows - newRows), base.schemaJson,
          base.counters, adds = newFiles, removes = affected.map(_.path),
          pruneDels = true)
      }
    }
    // typed-feed capture of the deleted rows; crash before the marker
    // is healed by the next publish (same window as append's)
    if (landed.fresh && feedEnabled(table)) publishFeed(spark, table)
    landed.version
  }

  /** PREDICATE OVERWRITE (Delta's `replaceWhere` / Spark's
    * `df.writeTo(t).overwrite(cond)`): atomically DELETE every row
    * matching `cond` and INSERT `df`, in ONE commit — the recompute-
    * a-slice backfill shape ("replace day X with its corrected rows")
    * that a deleteWhere + append pair can only approximate with a
    * window where readers see neither-or-half. New rows are REQUIRED
    * to satisfy `cond` (checked against the already-written files,
    * one columnar scan of the new files only): without that, rows the
    * predicate can't see ride in and the NEXT replace of the same
    * slice silently misses them. Affected files rewrite keep-side
    * like a COW delete (`morScan`, so pending sidecars apply and can
    * never resurrect); `prune` narrows the rewrite set and MUST be
    * conservative (keep any file that might hold a matching row —
    * callers translate their predicate to manifest-stat pruning, the
    * default rewrites everything). NULL `cond` rows are KEPT, exactly
    * like a SQL DELETE. CDC feeds capture the replaced rows as typed
    * deletes and the new rows as inserts through the standard
    * file-diff identity (kept rows cancel in the multiset
    * difference). Returns the committed version. */
  def replaceWhere(spark: SparkSession, table: String, cond: Column,
      df: DataFrame, statsCols: Seq[String] = Nil,
      strStatsCols: Seq[String] = Nil,
      bloomStatsCols: Seq[String] = Nil,
      txnId: Option[String] = None,
      prune: Snapshot => Seq[FileEntry] = _.files): Long = {
    import org.apache.spark.sql.functions.coalesce
    require(!feedEnabled(table) || cdcFeedEnabled(table),
      s"replaceWhere on feed-enabled table $table: the append-only " +
        s"change feed cannot represent it — enableCdcFeed($table) to " +
        "capture typed rows, or remove " +
        s"${feedDir(table)} to disable the feed")
    txnId.flatMap(committedTxnVersion(table, _)).foreach(return _)
    // staged files (the new slice, each CAS attempt's keep-side
    // rewrite) are deleted on EVERY non-commit exit — a lost race, the
    // audit throw, a concurrent same-txn commit — instead of sitting
    // unmanifested until a vacuum
    def dropStaged(fs: Seq[FileEntry]): Unit = fs.foreach { f =>
      val p = Paths.get(table, f.path)
      Files.deleteIfExists(p)
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    }
    // CHECK constraints validate against the set seen at write start
    // (the addCheckConstraint snapshot-isolation contract)
    val checks0 = snapshot(table).map(_.checks).getOrElse(Nil)
    // the NEW slice is written once, outside the CAS loop (append's
    // contract); a lost race re-plans only the keep-side rewrite.
    // Slice-ownership (every new row satisfies the replace predicate
    // — a NULL evaluation violates, unlike CHECK) and the CHECK
    // constraints ride the staged stats pass as audits: ONE scan of
    // the new slice certifies stats, predicate and checks, and a
    // violation drops the staging inside writeDataFiles.
    val audits = StagedAudit(
      !coalesce(cond, org.apache.spark.sql.functions.lit(false)),
      bad => s"replaceWhere on $table: $bad new rows do NOT " +
        "satisfy the replace predicate — they would be invisible " +
        "to the predicate that owns this slice (and to the next " +
        "replace of it); fix the predicate or the data") +:
      checkAudits(table, checks0, "replaceWhere")
    val (newFiles, newRows) = writeDataFiles(spark, table, df,
      statsCols, strStatsCols, bloomStatsCols, audits = audits)
    // the keep-side rewrite of the attempt in flight. An attempt that
    // loses the CAS planned it against a stale base, so the next attempt
    // drops it before re-planning (the failed manifest never referenced it)
    var kept = Seq.empty[FileEntry]
    val landed = commitOn(table, txnId) { (base, _) =>
      dropStaged(kept)
      val affected = prune(base)
      // keep-side rewrite of the affected files (MOR-aware); NULL
      // predicate rows are kept, like a SQL DELETE
      val (keptFiles, keptRows) =
        if (affected.isEmpty) (Nil, 0L)
        else {
          val scan = morScan(spark, table, base, affected)
          writeDataFiles(spark, table,
            scan.where(coalesce(!cond,
              org.apache.spark.sql.functions.lit(true))),
            statsCols, strStatsCols, bloomStatsCols)
        }
      kept = keptFiles
      // live row count of the affected slice, metadata-side where
      // provable (see liveRowsOf)
      val scanRows = liveRowsOf(spark, table, base, affected)
      if (keptRows > scanRows) {
        dropStaged(keptFiles); dropStaged(newFiles)
        sys.error(s"replaceWhere audit failed for $table: keep-side " +
          s"rewrite produced $keptRows rows from $scanRows — not " +
          "committing (staged files removed)")
      }
      Some(Change("replace", base.rows - (scanRows - keptRows) + newRows,
        base.schemaJson, base.counters, adds = keptFiles ++ newFiles,
        removes = affected.map(_.path).distinct.sorted, pruneDels = true))
    }
    // a racing writer committed this txn: nothing staged here is ours
    if (!landed.fresh) { dropStaged(kept); dropStaged(newFiles) }
    else if (feedEnabled(table)) publishFeed(spark, table)
    landed.version
  }

  /** MERGE-ON-READ delete: remove every row whose `keyCol` equals a
    * key in `keys`, with ZERO data-file rewrites — the commit writes
    * only a small delete-key SIDECAR (parquet of the distinct keys)
    * and a delta manifest referencing it; every data file carries over
    * by reference, and reads apply the sidecar as an anti-join
    * (`morScan`), version-fenced so rows appended AFTER the delete
    * under the same key are untouched. This is the scattered-key
    * complement to `deleteWhere`/`deleteWhereIn`'s copy-on-write: on
    * an UNCLUSTERED 100 TB table a scattered-key COW delete overlaps
    * nearly every file's [min,max] and rewrites the lot — here the
    * write cost is O(deleted keys), independent of table size, and the
    * read cost is one broadcast anti-join until a `compact()`/rewrite
    * materializes the sidecar away. The commit still pays ONE
    * key-column-only scan over stat-surviving files to count matched
    * rows (the manifest's `rows` stays exact and audited) — columnar,
    * no rewrite. Long and string keys prune alike (`keyPruneOf`).
    * NULL keys never match; keys matching no row commit nothing (the
    * orphan sidecar is vacuumed). On a TYPED (CDC) feed the deleted
    * rows are captured as full typed rows (the capture reads them via
    * the pre-delete snapshot); a PLAIN feed refuses. Returns the
    * committed version. */
  def deleteMor(spark: SparkSession, table: String, keyCol: String,
      keys: DataFrame, txnId: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.col
    require(!feedEnabled(table) || cdcFeedEnabled(table),
      s"deleteMor on feed-enabled table $table: the append-only change " +
        s"feed cannot represent a delete — enableCdcFeed($table) to " +
        "capture deletes as typed rows, or remove " +
        s"${feedDir(table)} to disable the feed")
    txnId.flatMap(committedTxnVersion(table, _)).foreach(return _)
    val isString = keys.schema(keyCol).dataType ==
      org.apache.spark.sql.types.StringType
    val keyDf = keys.select(col(keyCol)).where(col(keyCol).isNotNull)
      .distinct().cache()
    try {
      if (keyDf.isEmpty) return latestVersion(table)
      // the sidecar carries its own key stats, so the publish-side CDC
      // capture (and any future reader) can range-prune against it
      val (delFiles, _) = writeDataFiles(spark, table, keyDf,
        if (isString) Nil else Seq(keyCol),
        if (isString) Seq(keyCol) else Nil, Nil)
      val affectedOf = keyPruneOf(spark, keyDf, keyCol, isString)
      val landed = commitOn(table, txnId) { (base, version) =>
        val candidates = affectedOf(base)
        // matched-row count: key column only (columnar), MOR-aware so
        // an already-deleted key is not double-counted
        val matched =
          if (candidates.isEmpty) 0L
          else morScan(spark, table, base, candidates)
            .select(col(keyCol))
            .join(keyDf, Seq(keyCol), "left_semi").count()
        // keys matching no row: nothing to commit
        Option.when(matched > 0)(Change("delete_mor", base.rows - matched,
          base.schemaJson, base.counters, delAdds = delFiles.map(f =>
            DeleteEntry(f.copy(ver = version), keyCol, version))))
      }
      // typed-feed capture of the deleted rows (CDC tables only)
      if (landed.fresh && feedEnabled(table)) publishFeed(spark, table)
      landed.version
    } finally { keyDf.unpersist(); () }
  }

  /** POSITIONAL merge-on-read delete — ANY deterministic predicate,
    * ZERO data-file rewrites, NO key column required: the commit
    * writes one DELETION-VECTOR sidecar of `(file, row_index)` pairs
    * for the matched rows and a delta manifest referencing it; every
    * data file carries over by reference, and reads drop the vectored
    * positions with a codegen'd scan FILTER
    * ([[graft.functions.DvContains]]) — no anti-join, no broadcast
    * build, no cohort split. This completes the delete triangle:
    * `deleteWhere`/`deleteWhereIn` (clustered predicates, COW),
    * `deleteMor` (scattered KEYS, anti-join MOR), `deleteDv`
    * (ARBITRARY predicates — `v % 2 = 0`, fractional equality,
    * multi-column conjunctions — positional MOR). Exact SQL DELETE
    * semantics: rows where the predicate is TRUE are deleted; FALSE
    * and NULL keep. The predicate drives MANIFEST pruning through the
    * same machinery as the declarative face (resolved ranges,
    * IN-lists, bloom, z-box), so a clustered positional delete scans
    * only overlapping files. `maxPositions` bounds the vector (it
    * ships with read plans like a broadcast scalar — default 2M
    * positions ≈ 16 MB); a wider delete should be COW
    * (`deleteWhere`) or keyed (`deleteMor`), and the refusal says so.
    * Positions are recorded off `_metadata.row_index` AT THE SCAN,
    * below any pending sidecar's anti-join, so they are exact
    * whatever join strategy the MOR resolution picks. Matched rows
    * are counted MOR-aware (already-deleted rows never recount), the
    * manifest `rows` stays exact, CDC feeds capture the deleted rows
    * as typed rows, and any full rewrite (`compact`/`morMaintain`)
    * materializes the vector away. Returns the committed version
    * (unchanged when nothing matches).
    *
    * Two scale guards beyond the per-commit cap: (1) a delete whose
    * matched count exceeds `maxPositions` AUTO-FALLS-BACK to the
    * copy-on-write rewrite (`deleteImpl` with the same predicate —
    * sound because `dvPrune` already refused nondeterminism, so the
    * rewrite's re-evaluation matches the counted set exactly); set
    * `cowFallback = false` to get the old refusal. (2) the AGGREGATE
    * pending deletion-vector weight is bounded: every DV-bearing read
    * ships the union of all pending sidecars with the plan, and
    * nothing else shrinks it across commits — so when the pending DV
    * sidecar bytes exceed `maxPendingDvBytes` (default 64 MB ≈ 4
    * max-width vectors) this face materializes them away
    * (`morMaintain(maxSidecars = 0)`) before committing its own.
    * Both paths announce themselves in the log. */
  def deleteDv(spark: SparkSession, table: String, cond: Column,
      txnId: Option[String] = None, maxPositions: Long = 2000000L,
      statsCols: Seq[String] = Nil, strStatsCols: Seq[String] = Nil,
      bloomStatsCols: Seq[String] = Nil, cowFallback: Boolean = true,
      maxPendingDvBytes: Long = 64L << 20): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    require(!feedEnabled(table) || cdcFeedEnabled(table),
      s"deleteDv on feed-enabled table $table: the append-only change " +
        s"feed cannot represent a delete — enableCdcFeed($table) to " +
        "capture deletes as typed rows, or remove " +
        s"${feedDir(table)} to disable the feed")
    txnId.flatMap(committedTxnVersion(table, _)).foreach(return _)
    maintainDvIfHeavy(spark, table, maxPendingDvBytes, statsCols,
      strStatsCols, bloomStatsCols)
    // matched rows past `maxPositions`: the copy-on-write fallback runs
    // instead of a commit here
    var overCap = 0L
    val landed = commitOn(table, txnId) { (base, version) =>
      val kept =
        if (base.files.isEmpty) Nil else dvPrune(spark, table, base, cond)
      // no file can hold a match: nothing to commit
      if (kept.isEmpty) None
      else {
        val matched = morScan(spark, table, base, kept, pos = true)
          .where(cond)
          .select(col(GraftFileCol).as(DvFileField),
            col(GraftPosCol).as(DvPosField)).cache()
        try {
          val cnt = matched.count()
          if (cnt == 0) None
          else if (cnt > maxPositions) {
            require(cowFallback,
              s"deleteDv on $table: $cnt matched rows exceed maxPositions " +
                s"($maxPositions) — a deletion vector this wide would " +
                "weigh down every read plan; use deleteWhere " +
                "(copy-on-write) or deleteMor (key sidecar) for bulk " +
                "deletes, or raise the bound")
            overCap = cnt
            None
          } else {
            // CAS loss: positions were computed against a stale
            // snapshot — the next attempt recomputes everything; the
            // orphaned sidecar is vacuumed
            val (delFiles, _) = writeDataFiles(spark, table,
              matched.coalesce(1), Seq(DvPosField), Seq(DvFileField), Nil)
            Some(Change("delete_dv", base.rows - cnt, base.schemaJson,
              base.counters, delAdds = delFiles.map(f =>
                DeleteEntry(f.copy(ver = version), DvKeyCol, version))))
          }
        } finally { matched.unpersist(); () }
      }
    }
    if (overCap > 0) {
      // over-cap bulk delete: step over the wall the planner can see
      // past — run the SAME predicate as a copy-on-write rewrite of the
      // pruned files. NULL predicate keeps, like SQL DELETE.
      logger.warn(s"deleteDv on $table: $overCap matched rows exceed " +
        s"maxPositions ($maxPositions) — falling back to the " +
        "copy-on-write rewrite (deleteWhere path)")
      deleteImpl(spark, table,
        b => dvPrune(spark, table, b, cond),
        df => df.where(not(coalesce(cond, lit(false)))),
        statsCols, strStatsCols, txnId, bloomStatsCols)
    } else {
      if (landed.fresh && feedEnabled(table)) publishFeed(spark, table)
      landed.version
    }
  }

  /** POSITIONAL merge-on-read update — `updateWhere`'s set-clause
    * contract under ANY deterministic predicate, ZERO rewrites, NO
    * key column: matched rows' NEW IMAGES commit as ordinary data
    * files and their old positions as a deletion-vector sidecar.
    * Because positions address rows EXACTLY, the key-based faces'
    * constraints vanish: no NULL-key refusal, no straddled-shared-key
    * audit — rows sharing any value update independently. Row count
    * is invariant and audited; CHECK constraints re-validate the new
    * images; CDC feeds capture old images as deletes + new images as
    * inserts. Returns the committed version (unchanged when nothing
    * matches). */
  def updateDv(spark: SparkSession, table: String, cond: Column,
      set: Map[String, Column], statsCols: Seq[String] = Nil,
      strStatsCols: Seq[String] = Nil, txnId: Option[String] = None,
      bloomStatsCols: Seq[String] = Nil,
      maxPositions: Long = 2000000L,
      maxPendingDvBytes: Long = 64L << 20): Long = {
    import org.apache.spark.sql.functions.col
    require(set.nonEmpty, "updateDv: empty set clause")
    require(!feedEnabled(table) || cdcFeedEnabled(table),
      s"updateDv on feed-enabled table $table: the append-only " +
        "change feed cannot represent an update — " +
        s"enableCdcFeed($table) to capture it as typed rows, or remove " +
        s"${feedDir(table)} to disable the feed")
    txnId.flatMap(committedTxnVersion(table, _)).foreach(return _)
    maintainDvIfHeavy(spark, table, maxPendingDvBytes, statsCols,
      strStatsCols, bloomStatsCols)
    val landed = commitOn(table, txnId) { (base, version) =>
      val kept =
        if (base.files.isEmpty) Nil else dvPrune(spark, table, base, cond)
      // no file can hold a match: nothing to commit
      if (kept.isEmpty) None
      else {
        val scan = morScan(spark, table, base, kept, pos = true)
        val dataCols = scan.columns.toSeq
          .filterNot(c => c == GraftFileCol || c == GraftPosCol)
        set.keys.foreach(k => require(dataCols.contains(k),
          s"updateDv: set column $k not in $table's schema"))
        val matched = scan.where(cond).cache()
        try {
          val cnt = matched.count()
          if (cnt == 0) None
          else {
            require(cnt <= maxPositions,
              s"updateDv on $table: $cnt matched rows exceed maxPositions " +
                s"($maxPositions) — use updateWhere (copy-on-write) or " +
                "updateMor (key sidecar) for bulk updates, or raise the bound")
            // new images: ONE projection off the matched scan — every set
            // RHS reads the pre-update row (the updateWhere contract)
            val updated = matched.select(dataCols.map(k =>
              set.get(k).map(_.as(k)).getOrElse(col(k))): _*)
            scan.select(dataCols.map(col): _*).schema.fields
              .zip(updated.schema.fields).foreach {
                case (o, n) => require(o.dataType == n.dataType,
                  s"updateDv: set expression for ${o.name} has type " +
                    s"${n.dataType.simpleString}, column is " +
                    s"${o.dataType.simpleString} — cast the expression " +
                    "explicitly (the manifest schema is not changed by update)")
              }
            enforceChecks(spark, table, base.checks, updated, "updateDv")
            val (newFiles, newRows) = writeDataFiles(spark, table, updated,
              statsCols, strStatsCols, bloomStatsCols)
            require(newRows == cnt,
              s"updateDv audit failed for $table: wrote $newRows new " +
                s"images for $cnt matched rows — not committing")
            val (delFiles, _) = writeDataFiles(spark, table,
              matched.select(col(GraftFileCol).as(DvFileField),
                col(GraftPosCol).as(DvPosField)).coalesce(1),
              Seq(DvPosField), Seq(DvFileField), Nil)
            Some(Change("update_dv", base.rows, base.schemaJson, base.counters,
              adds = newFiles, delAdds = delFiles.map(f =>
                DeleteEntry(f.copy(ver = version), DvKeyCol, version))))
          }
        } finally { matched.unpersist(); () }
      }
    }
    // typed-feed capture: old images as deletes + new images as inserts
    if (landed.fresh && feedEnabled(table)) publishFeed(spark, table)
    landed.version
  }

  /** Commit half of Spark's GROUP-BASED row-level framework
    * ([[graft.catalog.GraftRowLevelOperation]] —
    * `SupportsRowLevelOperations`, the path a VANILLA session's
    * DELETE/UPDATE/MERGE takes on a catalog table): replace
    * `removedPaths` (the groups the operation's scan planned) with
    * `addedRel` (the rewritten groups Spark's own ReplaceData wrote)
    * in ONE delta manifest. Stats derive over the new files exactly
    * like every other write; `rows` stays exact (new counts from the
    * stats pass, removed counts from one footer-count scan of the
    * removed files — metadata-cheap). Concurrency: the CAS loop
    * re-validates that every removed path is STILL LIVE and that no
    * MOR sidecar landed since the scan planned (either means the
    * scanned groups no longer represent the table) — fails with a
    * retry message rather than committing a lost update. No-op (no
    * removes, no adds) commits nothing. */
  private[graft] def replaceFilesCommit(spark: SparkSession,
      table: String, action: String, removedPaths: Seq[String],
      addedRel: Seq[String], statsCols: Seq[String],
      strStatsCols: Seq[String], bloomStatsCols: Seq[String],
      planVersion: Long = Long.MaxValue,
      pendingDv: Seq[DeleteEntry] = Nil,
      audits: Seq[StagedAudit] = Nil): Long = {
    require(!feedEnabled(table) || cdcFeedEnabled(table),
      s"row-level $action on feed-enabled table $table: the " +
        "append-only change feed cannot represent it — " +
        s"enableCdcFeed($table) to capture typed rows, or remove " +
        s"${feedDir(table)} to disable the feed")
    // CHECK audits ride the stats pass (one scan); a violation throws
    // out of the caller's commit() and Spark's abort() drops staging
    val (entries, newRows) = statEntriesFor(spark, table, addedRel,
      statsCols, strStatsCols, bloomStatsCols, audits = audits)
    if (removedPaths.isEmpty && entries.isEmpty)
      return latestVersion(table)
    // MOR-aware removed-row count: the raw footer count of a replaced
    // group includes rows a pending deletion vector already deleted
    // (the scan filtered them, so the replacement files don't carry
    // them and the manifest `rows` never counted them) — subtract the
    // vectored positions per removed file
    val removedRows =
      if (removedPaths.isEmpty) 0L
      else {
        // raw footer counts come from the manifest when every removed
        // path carries one (write-time recorded; data files are
        // immutable, so any snapshot listing the path is authoritative)
        // — a legacy entry without a count pays the counting scan
        val byPath = snapshot(table).map(_.files
          .map(f => f.path -> f.rows).toMap)
          .getOrElse(Map.empty[String, Long])
        val raw =
          if (removedPaths.forall(p => byPath.getOrElse(p, -1L) >= 0L))
            removedPaths.map(byPath).sum
          else spark.read.parquet(
            removedPaths.map(p => s"$table/$p"): _*).count()
        val vectored =
          if (pendingDv.isEmpty) 0L
          else {
            val dv = loadDv(spark, table, pendingDv)
            removedPaths.map(p => dv.positionsFor(lastTwo(p))).sum
          }
        raw - vectored
      }
    val committed = commitOn(table) { (base, _) =>
      val live = base.files.map(_.path).toSet
      removedPaths.foreach(p => require(live(p),
        s"row-level $action on $table: file $p was rewritten by a " +
          "concurrent commit after the scan planned — retry the " +
          "statement"))
      // a sidecar committed AFTER the scan planned may fence a
      // scanned group: the raw read didn't filter it, so the rewrite
      // would resurrect its deleted rows — fail instead
      val removedEntries = base.files.filter(f =>
        removedPaths.contains(f.path))
      base.dels.filter(_.ver > planVersion).foreach(d =>
        removedEntries.foreach(f => require(!sidecarFences(base, f, d),
          s"row-level $action on $table: a merge-on-read sidecar " +
            s"committed at version ${d.ver} (after the scan planned " +
            s"at $planVersion) fences scanned file ${f.path}; retry " +
            "the statement")))
      require(base.dels.forall(d => d.keyCol == DvKeyCol ||
          d.ver > planVersion),
        s"row-level $action on $table: pending KEY merge-on-read " +
          "sidecars — the scanned groups are stale; retry the " +
          "statement")
      // same orphan rule as metadataDelete: a sidecar whose every
      // fenced file was just replaced (its keys/positions applied in
      // the rewrite) must not be carried forever — prune it. The
      // stamped new files survive deliberately: a new basename that
      // lexically falls inside a vector's file-key range keeps it
      // (conservative — exact membership resolves at scan time through
      // the loaded vector, a map miss keeps the row).
      Some(Change(action, base.rows - removedRows + newRows,
        base.schemaJson, base.counters, adds = entries,
        removes = removedPaths, pruneDels = true))
    }.version
    if (feedEnabled(table)) publishFeed(spark, table)
    committed
  }

  // ── METADATA-ONLY DELETE (SupportsDeleteV2) ──────────────────────
  /** Neutral predicate IR the catalog face translates Spark's V2
    * predicates into — long-space comparisons over stat columns plus
    * null tests and boolean structure. Anything untranslatable never
    * becomes an IR node (the face returns None and Spark keeps the
    * row-level plan). */
  sealed trait MdPred
  object MdPred {
    final case class Cmp(op: String, col: String, v: Long) extends MdPred
    final case class InLongs(col: String, vs: Seq[Long]) extends MdPred
    final case class NullTest(col: String, isNull: Boolean) extends MdPred
    final case class AndP(l: MdPred, r: MdPred) extends MdPred
    final case class OrP(l: MdPred, r: MdPred) extends MdPred
    case object True extends MdPred
    case object False extends MdPred
  }

  /** Three-valued file coverage under `p`: 1 = EVERY row satisfies
    * (file droppable whole), 0 = NO row satisfies (file untouched),
    * −1 = cannot prove either. The asymmetry that matters: NONE needs
    * only range disjointness (a NULL never satisfies a predicate, so
    * nulls strengthen NONE), while ALL additionally needs a RECORDED
    * ZERO null count — one uncounted null row would be wrongly
    * dropped with its file. Absent stats, absent row counts, and
    * unknown null counts all degrade to −1, never to a wrong drop. */
  private def mdCoverage(s: Snapshot, f: FileEntry, p: MdPred): Int = {
    import MdPred._
    def statFor(c: String): Option[FileStat] =
      statNameFor(s, c)(f).flatMap(ph => f.stats.find(_.col == ph))
    p match {
      case True => 1
      case False => 0
      case AndP(l, r) =>
        (mdCoverage(s, f, l), mdCoverage(s, f, r)) match {
          case (1, 1) => 1
          case (0, _) | (_, 0) => 0
          case _ => -1
        }
      case OrP(l, r) =>
        (mdCoverage(s, f, l), mdCoverage(s, f, r)) match {
          case (1, _) | (_, 1) => 1
          case (0, 0) => 0
          case _ => -1
        }
      case Cmp(op, c, v) => statFor(c) match {
        case None => -1
        case Some(st) =>
          val all = op match {
            case "=" => st.min == v && st.max == v
            case "<" => st.max < v
            case "<=" => st.max <= v
            case ">" => st.min > v
            case ">=" => st.min >= v
            case _ => false
          }
          val none = op match {
            case "=" => st.max < v || st.min > v
            case "<" => st.min >= v
            case "<=" => st.min > v
            case ">" => st.max <= v
            case ">=" => st.max < v
            case _ => false
          }
          if (none) 0
          else if (all && st.nulls == 0) 1
          else -1
      }
      case InLongs(c, vs) => statFor(c) match {
        case None => -1
        case Some(st) =>
          if (vs.forall(v => v < st.min || v > st.max)) 0
          else if (st.min == st.max && vs.contains(st.min) &&
            st.nulls == 0) 1
          else -1
      }
      case NullTest(c, isNull) => statFor(c) match {
        // an all-null file records NO range stat — its null count is
        // unreachable through FileStat, so only the zero-null proof
        // (ALL for IS_NOT_NULL, NONE for IS_NULL) is decidable
        case Some(st) if st.nulls == 0 => if (isNull) 0 else 1
        case Some(st) if st.nulls > 0 => -1
        case _ => -1
      }
    }
  }

  /** The exact-coverage plan: Some(files to drop) iff EVERY live file
    * is provably ALL or NONE, every ALL file carries a write-time row
    * count, and no KEY sidecar is pending (deletion vectors compose —
    * their positions subtract from the dropped files' live counts). */
  private def mdDeletePlan(s: Snapshot,
      p: MdPred): Option[Seq[FileEntry]] = {
    if (s.dels.exists(_.keyCol != DvKeyCol)) return None
    val covs = s.files.map(f => f -> mdCoverage(s, f, p))
    if (covs.exists(_._2 < 0)) return None
    val drop = covs.collect { case (f, 1) => f }
    if (drop.exists(_.rows < 0)) return None
    Some(drop)
  }

  private[graft] def canMetadataDelete(table: String,
      p: MdPred): Boolean = {
    if (feedEnabled(table) && !cdcFeedEnabled(table)) return false
    snapshot(table).exists(s => mdDeletePlan(s, p).isDefined)
  }

  /** METADATA-ONLY delete: drop whole files from the manifest with
    * ZERO data reads and ZERO data writes — the cheapest possible
    * delete shape, and on a range-clustered 100 TB table the COMMON
    * one (retention drops, partition-style deletes). Planned against
    * the CURRENT snapshot inside the CAS loop, so exactness can never
    * go stale between check and commit — a concurrent commit that
    * breaks coverage fails the statement loudly. `rows` stays exact
    * from the manifest's write-time per-file counts, minus pending
    * deletion-vector positions on dropped files (their rows were
    * already deducted at the vector's own commit). CDC feeds capture
    * the dropped rows as typed deletes through the standard "delete"
    * action (the capture scans the REMOVED files at the pre-commit
    * snapshot, MOR-aware — still zero reads on the commit path
    * itself). */
  /** Spec-pinnable counter: commits that went metadata-only (the COW
    * rewrite of a whole file leaves an identical manifest diff, so
    * tests distinguish the PATH here, like `statFallbacks`). */
  private[graft] val metadataDeletes =
    new java.util.concurrent.atomic.AtomicLong

  private[graft] def metadataDelete(spark: SparkSession, table: String,
      p: MdPred): Long = {
    require(!feedEnabled(table) || cdcFeedEnabled(table),
      s"metadata delete on feed-enabled table $table: the append-only " +
        s"change feed cannot represent a delete — enableCdcFeed" +
        s"($table), or remove ${feedDir(table)} to disable the feed")
    val landed = commitOn(table) { (base, _) =>
      val drop = mdDeletePlan(base, p).getOrElse(sys.error(
        s"metadata-only DELETE on $table: exact file coverage is no " +
          "longer provable (a concurrent commit, a legacy entry " +
          "without row counts, or a pending key sidecar) — retry the " +
          "statement, or compact() to refresh the manifest metadata"))
      // no file is wholly covered: nothing to commit
      Option.when(drop.nonEmpty) {
        val dvs = base.dels.filter(_.keyCol == DvKeyCol)
        val removedLive =
          if (dvs.isEmpty) drop.map(_.rows).sum
          else {
            val dv = loadDv(spark, table, dvs)
            drop.map(f => f.rows - dv.positionsFor(lastTwo(f.path))).sum
          }
        // prune deletion vectors orphaned by the drop (rare: only when a
        // DV's whole fenced range fell inside the dropped files).
        // mdDeletePlan refused KEY sidecars, so every entry is a DV.
        Change("delete", base.rows - removedLive, base.schemaJson,
          base.counters, removes = drop.map(_.path), pruneDels = true)
      }
    }
    if (landed.fresh) {
      metadataDeletes.incrementAndGet()
      if (feedEnabled(table)) publishFeed(spark, table)
    }
    landed.version
  }

  /** The delta-based row-level commit (`SupportsDelta` /
    * `rowLevelMode = 'mor'`): matched rows' positions arrive as
    * already-written deletion-vector sidecar shards (one per task,
    * stats inline — positions were collected DISTRIBUTED, never on
    * the driver), new images as already-written data files. ONE
    * manifest carries both; every existing data file carries over by
    * reference. Concurrency: the write's positions address the
    * PLANNING snapshot's files, so the commit re-validates that (a)
    * every scanned file is still live (a concurrent rewrite moved the
    * address space → fail and retry the statement, same contract as
    * the group-based path) and (b) no merge-on-read sidecar committed
    * after planning fences a scanned file (the scan didn't filter it,
    * so this write's matched set could double-delete its rows). A
    * plain concurrent APPEND passes both checks and composes. */
  private[graft] def writeDeltaCommit(spark: SparkSession,
      table: String, action: String, planVersion: Long,
      scannedPaths: Seq[String], dvEntries: Seq[FileEntry],
      deleted: Long, addedRel: Seq[String], statsCols: Seq[String],
      strStatsCols: Seq[String], bloomStatsCols: Seq[String],
      audits: Seq[StagedAudit] = Nil): Long = {
    require(!feedEnabled(table) || cdcFeedEnabled(table),
      s"row-level $action on feed-enabled table $table: the " +
        "append-only change feed cannot represent it — " +
        s"enableCdcFeed($table) to capture typed rows, or remove " +
        s"${feedDir(table)} to disable the feed")
    // CHECK audits ride the stats pass over the new images (one scan);
    // a violation throws out of commit() and Spark's abort() cleans up
    val (entries, newRows) = statEntriesFor(spark, table, addedRel,
      statsCols, strStatsCols, bloomStatsCols, audits = audits)
    if (dvEntries.isEmpty && entries.isEmpty)
      return latestVersion(table)
    // FOLD the per-task deletion-vector shards into ONE sidecar before
    // the commit (round-19, measured in tools.DeltaShardStats): a wide
    // statement lands one shard per TASK — 32 shards of ~2 KB each at
    // local[32] — so committing them raw grows every read by one
    // file-open per shard per statement AND trips the post-commit
    // maintain count-gate into a full materializing REWRITE every
    // ~maxCount/tasks statements (write amplification the statement
    // didn't ask for). One driver-side coalesce of the position lists
    // bounds per-statement sidecars at 1. No distinct(): within one
    // statement the (file, pos) pairs are disjoint across tasks
    // (morFold distincts because cross-STATEMENT sidecars can repeat).
    // Byte-gated: position lists are small by construction (the
    // positional faces cap positions), so past the gate keep the
    // shards and let the weight policy decide.
    val foldGate = spark.conf
      .getOption("spark.graft.rowLevel.foldDvShardBytes")
      .map(_.toLong).getOrElse(32L << 20)
    // unknown sizes (bytes < 0) count as OVER-gate, not zero — an
    // arbitrarily large unsized shard set must not ride the
    // driver-side coalesce(1)
    val dvCommit =
      if (dvEntries.size > 1 && dvEntries.forall(_.bytes >= 0L) &&
          dvEntries.map(_.bytes).sum <= foldGate) {
        import org.apache.spark.sql.functions.col
        val pairs = spark.read.schema(dvPairSchema).parquet(
          dvEntries.map(e => s"$table/${e.path}"): _*)
          .select(col(DvFileField), col(DvPosField)).coalesce(1)
        val (fs, _) = writeDataFiles(spark, table, pairs,
          Seq(DvPosField), Seq(DvFileField), Nil)
        // the shards are superseded before any manifest saw them —
        // drop them now (Spark's abort() re-deletes idempotently)
        dvEntries.foreach { e =>
          val p = Paths.get(table, e.path)
          Files.deleteIfExists(p)
          Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
        }
        fs
      } else dvEntries
    val committed =
      try commitOn(table) { (base, version) =>
        val live = base.files.map(_.path).toSet
        scannedPaths.foreach(p => require(live(p),
          s"row-level $action on $table: file $p was rewritten by a " +
            "concurrent commit after the scan planned — its positions " +
            "no longer address the live rows; retry the statement"))
        val scannedEntries = base.files.filter(f =>
          scannedPaths.contains(f.path))
        base.dels.filter(_.ver > planVersion).foreach(d =>
          scannedEntries.foreach(f => require(!sidecarFences(base, f, d),
            s"row-level $action on $table: a merge-on-read sidecar " +
              s"committed at version ${d.ver} (after the scan planned " +
              s"at $planVersion) fences scanned file ${f.path} — the " +
              "matched set may overlap its deletes; retry the statement")))
        Some(Change(action, base.rows - deleted + newRows, base.schemaJson,
          base.counters, adds = entries, delAdds = dvCommit.map(f =>
            DeleteEntry(f.copy(ver = version), DvKeyCol, version))))
      }.version
      catch { case e: Throwable =>
        // a failed commit aborts the statement; Spark's abort() deletes
        // the ORIGINAL staged shards by message path — the folded
        // sidecar is ours to clean
        if (dvCommit ne dvEntries) dvCommit.foreach { f =>
          val p = Paths.get(table, f.path)
          Files.deleteIfExists(p)
          Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
        }
        throw e
      }
    if (feedEnabled(table)) publishFeed(spark, table)
    // aggregate-weight guard, POST-commit: a pre-scan materialization
    // is impossible here (the operation's positions address the
    // planning snapshot — rewriting files now would abort this very
    // statement at the live-check), so the bound applies after the
    // commit lands: the NEXT statement starts from a maintained table.
    // Count gate matters doubly for this face — each statement lands
    // one sidecar shard per task.
    maintainDvIfHeavy(spark, table,
      spark.conf.getOption("spark.graft.rowLevel.maxPendingDvBytes")
        .map(_.toLong).getOrElse(64L << 20),
      statsCols, strStatsCols, bloomStatsCols,
      spark.conf.getOption("spark.graft.rowLevel.maxPendingDvSidecars")
        .map(_.toInt).getOrElse(64))
    committed
  }

  /** The positional faces' aggregate-weight guard: every DV-bearing
    * read collects the UNION of all pending deletion-vector sidecars
    * to the driver and ships it with the plan (`loadDv` +
    * `addReferenceObj`), and nothing but a full rewrite shrinks it —
    * so repeated positional DML would otherwise grow every read plan
    * without bound. Manifest-first arithmetic (`fileBytes`), zero
    * filesystem calls on modern entries; past the bound, ONE
    * `morMaintain(maxSidecars = 0)` materializes all pending sidecars
    * and the table returns to a zero-overhead read. */
  private def maintainDvIfHeavy(spark: SparkSession, table: String,
      bound: Long, statsCols: Seq[String], strStatsCols: Seq[String],
      bloomStatsCols: Seq[String], maxCount: Int = 64): Unit = {
    val s = snapshot(table).getOrElse(return)
    val dvs = s.dels.filter(_.keyCol == DvKeyCol)
    val pend = dvs.map(d => fileBytes(table, d.file)).sum
    // TWO-TIER guard (round 19). The BYTES bound is the real read-side
    // limit — every DV-bearing read ships the union of pending vectors
    // with the plan — and crossing it takes the full materializing
    // rewrite. The COUNT bound only limits file-OPENS per loadDv; with
    // per-statement shards already folded to one at commit, a count
    // trip means many small statement-sidecars, and a morFold (one
    // tiny sidecar concat, ZERO data-file rewrites) restores the bound
    // at a vanishing fraction of the rewrite's write amplification —
    // the bytes gate still owns the genuinely-heavy case.
    if (pend > bound) {
      logger.warn(s"positional DML on $table: $pend pending " +
        s"deletion-vector bytes exceed the $bound bound — " +
        "materializing all pending MOR sidecars (morMaintain)")
      morMaintain(spark, table, maxSidecars = 0, statsCols = statsCols,
        strStatsCols = strStatsCols, bloomStatsCols = bloomStatsCols)
      ()
    } else if (dvs.length > maxCount) {
      logger.warn(s"positional DML on $table: ${dvs.length} pending " +
        s"deletion-vector sidecars exceed the $maxCount count bound " +
        s"at only $pend bytes — folding (morFold, zero data-file " +
        "rewrites) instead of materializing")
      morFold(spark, table)
      ()
    }
  }

  /** The positional faces' shared front half: resolve the user
    * predicate once against the snapshot scan, refuse nondeterminism
    * (the matched set must be the set the read-side filter hides), and
    * manifest-prune with the SAME machinery the declarative face uses
    * — a clustered positional delete touches only overlapping files. */
  private[graft] def dvPrune(spark: SparkSession, table: String,
      base: Snapshot, cond: Column,
      face: String = "positional DML"): Seq[FileEntry] = {
    val probe = morScan(spark, table, base, base.files, pos = true)
      .where(cond)
    val resolved = probe.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }
    resolved.foreach(c => require(c.deterministic,
      s"$face on $table: the predicate must be deterministic " +
        "— a nondeterministic predicate would delete different rows " +
        "than it matched"))
    resolved match {
      case Some(c) => graft.plans.PruneLogScan.keptFilesOf(base, c)
      case None => base.files
    }
  }

  /** MERGE-ON-READ update — `updateWhere` semantics (same predicate,
    * same one-projection set-clause contract) with ZERO data-file
    * rewrites: the commit writes only the matched rows' NEW IMAGES as
    * ordinary data files plus a delete-key SIDECAR of their `keyCol`
    * values; every base file carries over by reference. The sidecar
    * (version V) fences only files with ver < V, and the new images
    * are stamped V — so reads see old images vanish and new images
    * appear atomically, and rows appended later under the same key
    * are untouched. This is the scattered-update complement to
    * `updateWhere`'s copy-on-write: on an UNCLUSTERED 100 TB table a
    * scattered predicate overlaps nearly every file's [min,max] and
    * COW rewrites the lot — here the write cost is O(matched rows),
    * independent of table size, and `compact()`/any full rewrite
    * materializes the sidecar away. Unlike the COW faces, key-sharing
    * rows must match the predicate TOGETHER (audited: a key whose
    * rows straddle the predicate boundary would lose its non-matching
    * rows to the sidecar — refused before committing). `set` may
    * rewrite `keyCol` itself (old key deleted, new image inserted
    * under the new key — an upsert-style move). Row count is
    * invariant and audited; CHECK constraints re-validate the new
    * images; CDC feeds capture old images as deletes + new images as
    * inserts (same per-key resolution as a COW update). Returns the
    * committed version (unchanged if nothing matches). */
  def updateMor(spark: SparkSession, table: String, keyCol: String,
      c: String, lo: Long, hi: Long, set: Map[String, Column],
      statsCols: Seq[String] = Nil, strStatsCols: Seq[String] = Nil,
      txnId: Option[String] = None,
      bloomStatsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(set.nonEmpty, "updateMor: empty set clause")
    require(!feedEnabled(table) || cdcFeedEnabled(table),
      s"updateMor on feed-enabled table $table: the append-only " +
        "change feed cannot represent an update — " +
        s"enableCdcFeed($table) to capture it as typed rows, or remove " +
        s"${feedDir(table)} to disable the feed")
    txnId.flatMap(committedTxnVersion(table, _)).foreach(return _)
    val cond = coalesce(col(c).cast("long").between(lo, hi), lit(false))
    val landed = commitOn(table, txnId) { (base, version) =>
      val affected = prunedFilesOf(base, c, lo, hi)
      // no file can hold a match: nothing to commit
      if (affected.isEmpty) None
      else {
        val scan = morScan(spark, table, base, affected)
        set.keys.foreach(k => require(scan.columns.contains(k),
          s"updateMor: set column $k not in $table's schema"))
        require(scan.columns.contains(keyCol),
          s"updateMor: key column $keyCol not in $table's schema")
        val matched = scan.where(cond).cache()
        try {
          val mst = matched.agg(
            org.apache.spark.sql.functions.count(lit(1)),
            org.apache.spark.sql.functions.count(col(keyCol))).head()
          val matchedRows = mst.getLong(0)
          if (matchedRows == 0) None
          else {
            // a NULL key is unaddressable by the sidecar anti-join: its
            // old image would never vanish while its new image appears
            require(mst.getLong(1) == matchedRows,
              s"updateMor on $table: ${matchedRows - mst.getLong(1)} " +
                s"matched row(s) have a NULL $keyCol — a MOR update " +
                "cannot address them; use updateWhere")
            val isString = scan.schema(keyCol).dataType ==
              org.apache.spark.sql.types.StringType
            val keyDf = matched.select(col(keyCol)).distinct()
            // COVERAGE audit: the sidecar deletes EVERY row carrying a
            // matched key from every fenced file — if any key-sharing row
            // does NOT match the predicate, committing would silently
            // lose it. One key-column-only scan over the key-pruned
            // candidates, same cost class as deleteMor's audit.
            val candidates = keyPruneOf(spark, keyDf, keyCol, isString)(base)
            val withKeys = morScan(spark, table, base, candidates)
              .select(col(keyCol))
              .join(keyDf, Seq(keyCol), "left_semi").count()
            require(withKeys == matchedRows,
              s"updateMor on $table: ${withKeys - matchedRows} row(s) " +
                s"share a matched $keyCol but do not match the predicate " +
                "— a MOR update would lose them; widen the predicate or " +
                "use updateWhere")
            // new images: ONE projection off the matched scan — every set
            // RHS reads the pre-update row (the updateWhere contract)
            val updated = matched.select(scan.columns.map(k =>
              set.get(k).map(_.as(k)).getOrElse(col(k))): _*)
            scan.schema.fields.zip(updated.schema.fields).foreach {
              case (o, n) => require(o.dataType == n.dataType,
                s"updateMor: set expression for ${o.name} has type " +
                  s"${n.dataType.simpleString}, column is " +
                  s"${o.dataType.simpleString} — cast the expression " +
                  "explicitly (the manifest schema is not changed by update)")
            }
            enforceChecks(spark, table, base.checks, updated, "updateMor")
            val (newFiles, newRows) = writeDataFiles(spark, table, updated,
              statsCols, strStatsCols, bloomStatsCols)
            require(newRows == matchedRows,
              s"updateMor audit failed for $table: wrote $newRows new " +
                s"images for $matchedRows matched rows — not committing")
            val (delFiles, _) = writeDataFiles(spark, table, keyDf,
              if (isString) Nil else Seq(keyCol),
              if (isString) Seq(keyCol) else Nil, Nil)
            // CAS loss: re-read the base and redo; orphaned files are
            // invisible garbage until vacuum
            Some(Change("update_mor", base.rows, base.schemaJson,
              base.counters, adds = newFiles, delAdds = delFiles.map(f =>
                DeleteEntry(f.copy(ver = version), keyCol, version))))
          }
        } finally { matched.unpersist(); () }
      }
    }
    // typed-feed capture: old images as deletes + new images as inserts
    if (landed.fresh && feedEnabled(table)) publishFeed(spark, table)
    landed.version
  }

  /** MERGE-ON-READ upsert — `mergeCow` semantics (latest-wins on
    * `keyCol`, NULL/duplicate source keys refused) with ZERO data-file
    * rewrites: the commit writes the SOURCE rows as ordinary data
    * files plus a delete-key sidecar of the source keys; matched
    * snapshot rows vanish behind the version fence, unmatched keys'
    * sidecar entries are harmless no-ops, and every base file carries
    * over by reference. Write cost is O(source), independent of table
    * size — the scattered-key complement to `mergeCow`, whose COW
    * rewrite on an unclustered table touches nearly every stat-
    * overlapping file. The read-side cost (one anti-join per sidecar
    * cohort) accrues until `compact()`/any full rewrite materializes;
    * a merge-heavy table alternates mergeMor batches with periodic
    * compaction, exactly like Delta/Iceberg MOR maintenance. Row
    * count audited as base − matched + source (matched counted by a
    * key-only semi join over key-pruned candidates); CHECK
    * constraints validate the source; CDC feeds capture matched old
    * images as deletes + source rows as inserts. Returns the
    * committed version. */
  def mergeMor(spark: SparkSession, table: String, source: DataFrame,
      keyCol: String, statsCols: Seq[String] = Nil,
      strStatsCols: Seq[String] = Nil, txnId: Option[String] = None,
      bloomStatsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, count => cnt, countDistinct, lit}
    require(!feedEnabled(table) || cdcFeedEnabled(table),
      s"mergeMor on feed-enabled table $table: the append-only change " +
        s"feed cannot represent an upsert — enableCdcFeed($table) to " +
        "capture it as typed delete+insert rows, or remove " +
        s"${feedDir(table)} to disable the feed")
    txnId.flatMap(committedTxnVersion(table, _)).foreach(return _)
    val src = source.cache()
    try {
      val st = src.agg(cnt(lit(1)), cnt(col(keyCol)),
        countDistinct(col(keyCol))).head()
      val srcRows = st.getLong(0)
      if (srcRows == 0) return latestVersion(table)
      require(st.getLong(1) == srcRows,
        s"mergeMor: NULL keys in source ($keyCol)")
      require(st.getLong(2) == srcRows,
        s"mergeMor: duplicate keys in source ($keyCol)")
      val isString = src.schema(keyCol).dataType ==
        org.apache.spark.sql.types.StringType
      morUpsertCore(spark, table, src, srcRows, src.select(col(keyCol)),
        keyCol, isString, "merge_mor", "mergeMor", statsCols,
        strStatsCols, txnId, bloomStatsCols)
    } finally { src.unpersist(); () }
  }

  /** The shared MOR-upsert commit under `mergeMor` and `applyCdcMor`:
    * write `ins` as data files + `touchedKeys` as a delete-key
    * sidecar ONCE (base-independent, like deleteMor's sidecar), then
    * CAS-commit one delta — adds stamped V, sidecar fencing ver < V —
    * with rows audited base − matched + inserts. `touchedKeys` may be
    * a SUPERSET of the inserts' keys (applyCdc: a winning delete
    * fences its key with no replacement row). */
  private def morUpsertCore(spark: SparkSession, table: String,
      ins: DataFrame, insRows: Long, touchedKeys: DataFrame,
      keyCol: String, isString: Boolean, action: String, what: String,
      statsCols: Seq[String], strStatsCols: Seq[String],
      txnId: Option[String], bloomStatsCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    val keys = touchedKeys.select(col(keyCol)).distinct()
    val (newFiles, newRows) = writeDataFiles(spark, table, ins,
      statsCols, strStatsCols, bloomStatsCols)
    require(newRows == insRows,
      s"$what audit failed for $table: wrote $newRows rows from a " +
        s"$insRows-row insert set — not committing")
    val (delFiles, _) = writeDataFiles(spark, table, keys,
      if (isString) Nil else Seq(keyCol),
      if (isString) Seq(keyCol) else Nil, Nil)
    val affectedOf = keyPruneOf(spark, keys, keyCol, isString)
    val landed = commitOn(table, txnId) { (base, version) =>
      enforceChecks(spark, table, base.checks, ins, what)
      val candidates = affectedOf(base)
      val matched =
        if (candidates.isEmpty) 0L
        else morScan(spark, table, base, candidates)
          .select(col(keyCol))
          .join(keys, Seq(keyCol), "left_semi").count()
      Some(Change(action, base.rows - matched + insRows, base.schemaJson,
        base.counters, adds = newFiles, delAdds = delFiles.map(f =>
          DeleteEntry(f.copy(ver = version), keyCol, version))))
    }
    if (landed.fresh && feedEnabled(table)) publishFeed(spark, table)
    landed.version
  }

  /** Stats-pruned COPY-ON-WRITE update: for every row where `c` (cast
    * to long) falls in `[lo, hi]`, replace the columns named in `set`
    * with their expressions — every RHS evaluated against the OLD row
    * (standard SQL UPDATE semantics: all set clauses see the
    * pre-update image, so `"a" -> col("b"), "b" -> col("a")` swaps,
    * and the predicate column itself may appear in `set` without
    * re-evaluating the condition against its new value; the whole
    * update is ONE projection over the scan, never a chain) —
    * rewriting ONLY the files whose manifest stat range
    * overlaps the predicate; every other file carries over BY
    * REFERENCE in a delta manifest, exactly like `deleteWhere`. Rows
    * with NULL `c` never match and pass through unchanged. The row
    * count is invariant and audited both per-rewrite (out = in) and in
    * total. Update cost is O(affected files + manifest), not O(table).
    * On a TYPED (CDC) feed the update is captured as typed rows (old
    * image deletes + new image inserts, via the symmetric-difference
    * capture — an update whose expressions leave a matched row
    * bit-identical publishes nothing for it); a PLAIN feed refuses.
    * Returns the committed version (unchanged current version if no
    * file can contain a match). */
  def updateWhere(spark: SparkSession, table: String, c: String,
      lo: Long, hi: Long, set: Map[String, Column],
      statsCols: Seq[String] = Nil, strStatsCols: Seq[String] = Nil,
      txnId: Option[String] = None,
      bloomStatsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(set.nonEmpty, "updateWhere: empty set clause")
    require(!feedEnabled(table) || cdcFeedEnabled(table),
      s"updateWhere on feed-enabled table $table: the append-only " +
        "change feed cannot represent an update — " +
        s"enableCdcFeed($table) to capture it as typed rows, or remove " +
        s"${feedDir(table)} to disable the feed")
    txnId.flatMap(committedTxnVersion(table, _)).foreach(return _)
    val cond = coalesce(col(c).cast("long").between(lo, hi), lit(false))
    val landed = commitOn(table, txnId) { (base, _) =>
      val affected = prunedFilesOf(base, c, lo, hi)
      // no file can hold a match: nothing to commit
      Option.when(affected.nonEmpty) {
        val scan = morScan(spark, table, base, affected)
        set.keys.foreach(k => require(scan.columns.contains(k),
          s"updateWhere: set column $k not in $table's schema"))
        val scanRows = liveRowsOf(spark, table, base, affected)
        // ONE projection off the unmodified scan: every set RHS reads the
        // pre-update row (a foldLeft of withColumn would feed each later
        // expression the PREVIOUS expression's output — the a/b swap
        // bug, Map-iteration-order nondeterministic past 4 entries)
        val updated = scan.select(scan.columns.map(k =>
          set.get(k).map(e => when(cond, e).otherwise(col(k)))
            .getOrElse(col(k)).as(k)): _*)
        // schema audit: when/otherwise type coercion can silently widen
        // a column (long + lit(0.5) → double) — the data files would
        // then disagree with the manifest's unchanged schemaJson and
        // fail only at a LATER read. Refuse before writing, not cast:
        // an implicit cast back (0.5 as long = 0) corrupts silently.
        scan.schema.fields.zip(updated.schema.fields).foreach {
          case (o, n) => require(o.dataType == n.dataType,
            s"updateWhere: set expression for ${o.name} has type " +
              s"${n.dataType.simpleString}, column is " +
              s"${o.dataType.simpleString} — cast the expression " +
              "explicitly (the manifest schema is not changed by update)")
        }
        // only the rows the update actually touches need re-validation —
        // untouched rows were validated when they were written
        enforceChecks(spark, table, base.checks, updated.where(cond),
          "updateWhere")
        val (newFiles, newRows) = writeDataFiles(spark, table, updated,
          statsCols, strStatsCols, bloomStatsCols)
        require(newRows == scanRows,
          s"update audit failed for $table: rewrite produced $newRows " +
            s"rows from $scanRows — not committing")
        Change("update", base.rows, base.schemaJson, base.counters,
          adds = newFiles, removes = affected.map(_.path))
      }
    }
    // typed-feed capture of the update's old/new images
    if (landed.fresh && feedEnabled(table)) publishFeed(spark, table)
    landed.version
  }

  /** Latest-wins upsert through the log: snapshot rows whose key
    * matches a source row are replaced, new keys appended — one
    * left-anti join + union, committed as a rewrite. The row count is
    * audited as base − matched + source: `matched` is counted against
    * the SAME base snapshot the rewrite transform reads (the transform
    * runs before the audit inside each CAS attempt, so the expectation
    * is exact even when a conflict re-runs the merge against a newer
    * base), and a merge that drops or fabricates rows fails the audit
    * instead of committing. */
  def mergeUpsert(spark: SparkSession, table: String, source: DataFrame,
      keyCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max, sum}
    val src = source.cache()
    try {
      // ONE aggregate over the keyed groups yields the source count AND
      // the duplicate check (sum of group counts = count(*), including
      // null-key groups; max > 1 = a duplicate) — was two jobs
      val st = src.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n"))
        .agg(sum(col("__n")), max(col("__n"))).head()
      val srcRows = if (st.isNullAt(0)) 0L else st.getLong(0)
      require(st.isNullAt(1) || st.getLong(1) <= 1L,
        s"mergeUpsert: duplicate keys in source")
      snapshot(table).foreach(b =>
        enforceChecks(spark, table, b.checks, src, "mergeUpsert"))
      val srcKeys = src.select(keyCols.map(col): _*)
      // set per attempt inside the transform; read by the audit, which
      // rewrite() evaluates after the transform has run
      var matched = 0L
      rewrite(spark, table, "merge",
          expectRows = base => Some(base - matched + srcRows)) { df =>
        matched = df.join(srcKeys, keyCols, "left_semi").count()
        df.join(srcKeys, keyCols, "left_anti").unionByName(src)
      }
    } finally src.unpersist()
  }

  /** Stats-pruned COPY-ON-WRITE upsert through the log — `mergeUpsert`
    * generalized the way `deleteWhere` generalizes a full rewrite:
    * latest-wins merge of `source` on key `keyCol` (LONG-castable keys
    * prune via the long range stats; STRING keys via the string stats
    * in UTF-8 binary order — pass `strStatsCols` on writes so document
    * tables keyed on string ids prune too), rewriting ONLY
    * the files whose manifest stat range can contain a source key —
    * every other file provably holds no matched row and carries over BY
    * REFERENCE (same path, never read, never copied) in a delta
    * manifest (removes = affected paths, adds = their rewritten
    * remainders + the source's rows). Merge cost is therefore
    * O(affected files + source + manifest), not O(table): on a
    * range-clustered 100 TB table an upsert touching a day's key span
    * reads and rewrites a handful of files where `mergeUpsert`'s
    * full-snapshot rewrite streams the whole table through the cluster.
    * The source's key summary picks the prune: the exact sorted key set
    * (per-file overlap by binary search, tightest) up to 100k distinct
    * keys, the [min,max] span past that — both driver-bounded. Rows are
    * audited independently (new = affected − matched + source, with
    * `matched` counted by a semi join over ONLY the affected files);
    * duplicate source keys are refused; counters carry over verbatim;
    * commits CAS-retry against racing writers like every other path.
    * On a TYPED (CDC) feed table the merge is captured as typed rows —
    * deletes = old matched rows, inserts = new/updated rows, by the
    * multiset symmetric difference of the commit's own file diff (see
    * the feed section comment) — so downstreams derive the post-merge
    * state from the feed alone; a PLAIN feed still refuses (an upsert
    * is a delete+insert an add-only feed cannot represent). NULL
    * source keys are refused — a NULL key matches no row and would
    * silently land as an unmatchable insert. */
  def mergeCow(spark: SparkSession, table: String, source: DataFrame,
      keyCol: String, statsCols: Seq[String] = Nil,
      strStatsCols: Seq[String] = Nil, txnId: Option[String] = None,
      bloomStatsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit,
      max, min}
    require(!feedEnabled(table) || cdcFeedEnabled(table),
      s"mergeCow on feed-enabled table $table: the append-only change " +
        s"feed cannot represent an upsert — enableCdcFeed($table) to " +
        "capture it as typed delete+insert rows, or remove " +
        s"${feedDir(table)} to disable the feed")
    txnId.flatMap(committedTxnVersion(table, _)).foreach(return _)
    val src = source.cache()
    try {
      import org.apache.spark.sql.functions.{count => cnt}
      val st = src.agg(cnt(lit(1)), cnt(col(keyCol)),
        countDistinct(col(keyCol))).head()
      val srcRows = st.getLong(0)
      if (srcRows == 0) return latestVersion(table)
      require(st.getLong(1) == srcRows,
        s"mergeCow: NULL keys in source ($keyCol)")
      require(st.getLong(2) == srcRows,
        s"mergeCow: duplicate keys in source ($keyCol)")
      val apply =
        if (src.schema(keyCol).dataType ==
            org.apache.spark.sql.types.StringType) cowApplyStr _
        else cowApply _
      apply(spark, table, src, srcRows, src.select(col(keyCol)),
        keyCol, statsCols, strStatsCols, txnId, bloomStatsCols)
    } finally src.unpersist()
  }

  /** Apply a batch of TYPED changes (the CDC feed's shape: table
    * columns + `_change_type` + `_change_version`) onto a KEYED table
    * in ONE copy-on-write commit — the "apply changes into" half of the
    * medallion pattern, turning a bronze CDC feed into a keyed silver
    * table. Per key the HIGHEST `_change_version` wins (the feed's link
    * names carry the bronze commit order, so cross-batch reorderings
    * inside one trigger resolve exactly as the log serialized them): a
    * winning insert upserts the row, a winning delete with no tied
    * insert removes the key. A version may carry a delete+insert PAIR
    * for one key — a captured UPDATE's pre- and post-image — and the
    * insert wins, which is the update's meaning. Tied INSERT rows for
    * one key are refused (ambiguous upsert — bronze appended/merged the
    * same key twice in one commit), tied deletes are fine (every
    * deleted copy was captured).
    * Stats-pruned like `mergeCow` (only files whose key stats can hold
    * a TOUCHED key are rewritten); single commit per batch + txn id =
    * exactly-once under streaming replay. An empty/absent silver table
    * bootstraps from the batch's winning inserts. */
  def applyCdc(spark: SparkSession, table: String, changes: DataFrame,
      keyCol: String, statsCols: Seq[String] = Nil,
      strStatsCols: Seq[String] = Nil, txnId: Option[String] = None,
      bloomStatsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    require(!feedEnabled(table) || cdcFeedEnabled(table),
      s"applyCdc on feed-enabled table $table: an upsert is a " +
        "delete+insert a PLAIN feed cannot represent — " +
        s"enableCdcFeed($table) to capture it (chaining silver→gold), " +
        "or disable the feed")
    txnId.flatMap(committedTxnVersion(table, _)).foreach(return _)
    val ch = changes.cache()
    try {
      resolveCdcBatch(ch, keyCol, "applyCdc") match {
        case None => latestVersion(table)
        case Some((ins, insRows, touched)) =>
          if (latestVersion(table) == 0L)
            // streaming bootstrap: first batch creates the silver table
            return append(spark, table, ins, statsCols, txnId,
              strStatsCols, bloomStatsCols = bloomStatsCols)
          val apply =
            if (ch.schema(keyCol).dataType ==
                org.apache.spark.sql.types.StringType) cowApplyStr _
            else cowApply _
          apply(spark, table, ins, insRows, touched, keyCol, statsCols,
            strStatsCols, txnId, bloomStatsCols)
      }
    } finally { ch.unpersist(); () }
  }

  /** The latest-wins resolution shared by `applyCdc` and
    * `applyCdcMor`: per key the highest `_change_version` wins, a
    * tied delete+insert pair resolves to the insert (a captured
    * UPDATE's meaning), tied inserts are refused. None = empty batch.
    * Returns (winning inserts, their count, ALL touched keys — a
    * winning delete's key must still prune/anti-join). */
  private def resolveCdcBatch(ch: DataFrame, keyCol: String,
      what: String): Option[(DataFrame, Long, DataFrame)] = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max}
    require(ch.columns.contains(changeTypeCol) &&
      ch.columns.contains(changeVersionCol),
      s"$what: changes must carry $changeTypeCol and $changeVersionCol " +
        "— read the feed with withVersion = true")
    // ONE audit job for the whole batch — per-batch latency is
    // job-count-bound at high trigger rates. The per-key winning
    // version is a window max over the cached batch (one shuffle,
    // where the old groupBy+self-join paid the aggregate AND the
    // join), and emptiness, null keys, the winning-insert count and
    // the tied-insert ambiguity check all ride a single aggregate
    // over it instead of two separate .head() jobs.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    val topped = ch.withColumn("__vmax",
      max(col(changeVersionCol)).over(w))
    val winIns = col(changeVersionCol) === col("__vmax") &&
      col(changeTypeCol) === "insert"
    import org.apache.spark.sql.functions.{countDistinct, when}
    val st = topped.agg(count(lit(1)), count(col(keyCol)),
      count(when(winIns, lit(1))),
      countDistinct(when(winIns, col(keyCol)))).head()
    if (st.getLong(0) == 0) return None
    require(st.getLong(1) == st.getLong(0),
      s"$what: NULL keys in changes ($keyCol)")
    val insRows = st.getLong(2)
    require(st.getLong(3) == insRows,
      s"$what: a key has multiple surviving insert rows at its " +
        "winning version — ambiguous upsert")
    val ins = topped.where(winIns)
      .drop(changeTypeCol, changeVersionCol, "__vmax")
    Some((ins, insRows, ch.select(col(keyCol)).distinct()))
  }

  /** MERGE-ON-READ "apply changes into" — `applyCdc` semantics (same
    * latest-wins resolution, same guards, same exactly-once txn ids)
    * with ZERO data-file rewrites: the batch commits as the winning
    * inserts' files + a delete-key sidecar of ALL touched keys (a
    * winning delete fences its key with no replacement; a winning
    * insert's old image vanishes behind the fence while the new row
    * rides in the adds). This is the silver-table shape for a
    * SCATTERED-KEY CDC stream on an unclustered table, where the COW
    * apply would rewrite nearly every stat-overlapping file per
    * trigger: per-batch write cost becomes O(batch), and the accrued
    * sidecar cohorts compact away on the normal maintenance tick
    * (`compactSmall`/`compact`) — the Delta/Iceberg MOR streaming
    * pattern. Bootstraps an empty table from the batch's winning
    * inserts. */
  def applyCdcMor(spark: SparkSession, table: String, changes: DataFrame,
      keyCol: String, statsCols: Seq[String] = Nil,
      strStatsCols: Seq[String] = Nil, txnId: Option[String] = None,
      bloomStatsCols: Seq[String] = Nil): Long = {
    require(!feedEnabled(table) || cdcFeedEnabled(table),
      s"applyCdcMor on feed-enabled table $table: an upsert is a " +
        "delete+insert a PLAIN feed cannot represent — " +
        s"enableCdcFeed($table) to capture it (chaining silver→gold), " +
        "or disable the feed")
    txnId.flatMap(committedTxnVersion(table, _)).foreach(return _)
    val ch = changes.cache()
    try {
      resolveCdcBatch(ch, keyCol, "applyCdcMor") match {
        case None => latestVersion(table)
        case Some((ins, insRows, touched)) =>
          if (latestVersion(table) == 0L)
            return append(spark, table, ins, statsCols, txnId,
              strStatsCols, bloomStatsCols = bloomStatsCols)
          morUpsertCore(spark, table, ins, insRows, touched, keyCol,
            ch.schema(keyCol).dataType ==
              org.apache.spark.sql.types.StringType,
            "apply_cdc_mor", "applyCdcMor", statsCols, strStatsCols,
            txnId, bloomStatsCols)
      }
    } finally { ch.unpersist(); () }
  }

  /** The bronze→keyed-silver CDC pipeline in one line: stream the typed
    * feed (with versions) and apply each micro-batch under txn id
    * `<streamId>#<batchId>` — exactly-once across crash-replays, one
    * stats-pruned commit per batch. `mor = true` routes each batch
    * through `applyCdcMor` (winning inserts + touched-key sidecar,
    * zero silver rewrites — the per-trigger cost an unclustered
    * scattered-key stream wants; pair with a periodic
    * `compactSmall`/`compact` maintenance tick). */
  def cdcApplyStream(spark: SparkSession, bronze: String, silver: String,
      keyCol: String, streamId: String, checkpoint: Option[String] = None,
      statsCols: Seq[String] = Nil, mor: Boolean = false,
      autoMorSidecars: Option[Int] = None): Unit =
    graft.streaming.StreamingOps.runForeachBatch(
      changeFeedStream(spark, bronze, withVersion = true),
      org.apache.spark.sql.streaming.OutputMode.Append(), checkpoint) {
      (batch, batchId) =>
        val apply = if (mor) applyCdcMor _ else applyCdc _
        apply(spark, silver, batch, keyCol, statsCols, Nil,
          Some(s"$streamId#$batchId"), Nil)
        // MOR maintenance tick: a merge-on-read apply stream is what
        // ACCUMULATES sidecars, so the ingest loop owns retiring them
        // — same ownership argument as appendStream's compactSmall
        // tick, and like it deliberately outside the txn envelope
        // (layout-only; feed tables publish nothing for it)
        autoMorSidecars.foreach(n =>
          morMaintain(spark, silver, maxSidecars = n,
            statsCols = statsCols))
        ()
    }

  /** Exact key-set file prune for a SORTED long key array: files whose
    * stat range (under the file's own physical name) can contain one
    * of the keys; dead-incarnation files (all-null column) prune
    * outright, absent stats keep the file. The shared primitive under
    * the COW merges and the join-driven dynamic prune. */
  private[graft] def prunedFilesByKeys(s: Snapshot, c: String,
      sortedKeys: Array[Long]): Seq[FileEntry] = {
    val phys = statNameFor(s, c)
    s.files.filter(f => phys(f).exists(p =>
      f.stats.find(_.col == p).forall(st =>
        sortedOverlaps(sortedKeys, st.min, st.max))))
  }

  /** STRING twin of `prunedFilesByKeys`: files whose string stat
    * range (under the file's own physical name, UTF-8 binary order)
    * can contain one of the keys — the shared primitive under the
    * string COW merge and the string-key dynamic join prune. `keys`
    * must be sorted by `utf8SortKeys`. */
  private[graft] def prunedFilesByKeysStr(s: Snapshot, c: String,
      sortedKeys: Array[String]): Seq[FileEntry] = {
    val phys = statNameFor(s, c)
    s.files.filter(f => phys(f).exists(p =>
      f.strStats.find(_.col == p).forall(st =>
        sortedOverlapsStr(sortedKeys, st.min, st.max))))
  }

  /** Sort keys in the UTF-8 binary order the string file stats were
    * written in (Spark's min/max on strings), so binary search and
    * stat comparison agree. */
  private[graft] def utf8SortKeys(keys: Array[String]): Array[String] =
    keys.sortWith((a, b) => a != b && utf8Leq(a, b))

  /** Does the sorted key array contain any value in [min, max]?
    * Binary search for the smallest key ≥ min — O(log K) per file, so
    * a 100k-key merge prunes a million-file manifest in driver
    * milliseconds where a per-file containment scan would be O(F·K). */
  private def sortedOverlaps(sorted: Array[Long], min: Long,
      max: Long): Boolean = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) < min) lo = mid + 1 else hi = mid
    }
    lo < sorted.length && sorted(lo) <= max
  }

  /** `sortedOverlaps` in UTF-8 binary string order: does the sorted
    * key array contain any value in [min, max]? Same O(log K) binary
    * search; comparisons via `utf8Leq` so the prune agrees with the
    * order Spark min/max wrote the stats in. */
  private def sortedOverlapsStr(sorted: Array[String], min: String,
      max: String): Boolean = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (!utf8Leq(min, sorted(mid))) lo = mid + 1 else hi = mid
    }
    lo < sorted.length && utf8Leq(sorted(lo), max)
  }

  /** Shared copy-on-write upsert commit: replace the rows whose key is
    * in `touchedKeys` with `inserts`, rewriting only stat-overlapping
    * files, carrying the rest by reference in a delta manifest. The
    * prune uses the EXACT sorted key set up to 100k distinct keys
    * (~800 KB driver memory; per-file overlap by binary search), so a
    * bimodal source — a narrow update band plus inserts past the key
    * domain, the daily-corrections shape — keeps pruning tightly where
    * a [min,max] span would cover the whole table; only past the cap
    * does the prune degrade to the span (at which width the merge
    * plausibly touches most of a clustered table anyway). Audits
    * new = affected − matched + inserts with an independent semi-join
    * count over only the affected files. */
  private def cowApply(spark: SparkSession, table: String,
      inserts: DataFrame, insRows: Long, touchedKeys: DataFrame,
      keyCol: String, statsCols: Seq[String], strStatsCols: Seq[String],
      txnId: Option[String], bloomStatsCols: Seq[String]): Long =
    cowApplyCore(spark, table, inserts, insRows, touchedKeys, keyCol,
      keyPruneOf(spark, touchedKeys, keyCol, isString = false),
      statsCols, strStatsCols, txnId, bloomStatsCols)

  /** STRING-KEY twin of `cowApply`: same shared CAS core, pruning via
    * the string file stats in UTF-8 binary order (see `keyPruneOf`).
    * Document/content tables key on strings — this is the same
    * O(affected files + source + manifest) merge, on the
    * `strStatsCols` machinery `deleteWhereIn` already uses. */
  private def cowApplyStr(spark: SparkSession, table: String,
      inserts: DataFrame, insRows: Long, touchedKeys: DataFrame,
      keyCol: String, statsCols: Seq[String], strStatsCols: Seq[String],
      txnId: Option[String], bloomStatsCols: Seq[String]): Long =
    cowApplyCore(spark, table, inserts, insRows, touchedKeys, keyCol,
      keyPruneOf(spark, touchedKeys, keyCol, isString = true),
      statsCols, strStatsCols, txnId, bloomStatsCols)

  /** The candidate-file prune shared by the COW merges and `deleteMor`:
    * exact sorted key set up to 100k distinct keys (binary-search
    * overlap per file), [min,max] span past the cap — long keys
    * against the long range stats, string keys against the string
    * stats in UTF-8 binary order. */
  private def keyPruneOf(spark: SparkSession, touchedKeys: DataFrame,
      keyCol: String, isString: Boolean): Snapshot => Seq[FileEntry] = {
    import org.apache.spark.sql.functions.{col, max, min}
    val cap = 100000
    if (isString) {
      val capped = touchedKeys.select(col(keyCol).cast("string")).distinct()
        .limit(cap + 1).collect().map(_.getString(0))
      val utf8Lt = (a: String, b: String) => a != b && utf8Leq(a, b)
      val keyList: Option[Array[String]] =
        if (capped.length <= cap) Some(capped.sortWith(utf8Lt)) else None
      val (lo, hi) = keyList match {
        case Some(s) if s.nonEmpty => (s.head, s.last)
        case _ =>
          val r = touchedKeys.agg(min(col(keyCol).cast("string")),
            max(col(keyCol).cast("string"))).head()
          (r.getString(0), r.getString(1))
      }
      base => {
        // stats live under each file's PHYSICAL name (a rename must
        // not turn the merge prune into a full rewrite); a dead
        // incarnation (None) is all-null keys — provably unaffected
        val phys = statNameFor(base, keyCol)
        keyList match {
          case Some(sorted) => base.files.filter(f => phys(f).exists(p =>
            f.strStats.find(_.col == p).forall(st =>
              sortedOverlapsStr(sorted, st.min, st.max))))
          case None => base.files.filter(f => phys(f).exists(p =>
            f.strStats.find(_.col == p).forall(st =>
              utf8Leq(st.min, hi) && utf8Leq(lo, st.max))))
        }
      }
    } else {
      val capped = touchedKeys.select(col(keyCol).cast("long")).distinct()
        .limit(cap + 1).collect().map(_.getLong(0))
      val keyList: Option[Array[Long]] =
        if (capped.length <= cap) Some(capped.sorted) else None
      val (lo, hi) = keyList match {
        case Some(s) if s.nonEmpty => (s.head, s.last)
        case _ =>
          val r = touchedKeys.agg(min(col(keyCol).cast("long")),
            max(col(keyCol).cast("long"))).head()
          (r.getLong(0), r.getLong(1))
      }
      base => {
        val phys = statNameFor(base, keyCol)
        keyList match {
          case Some(sorted) => base.files.filter(f => phys(f).exists(p =>
            f.stats.find(_.col == p).forall(st =>
              sortedOverlaps(sorted, st.min, st.max))))
          case None => prunedFilesOf(base, keyCol, lo, hi)
        }
      }
    }
  }

  /** The shared COW-upsert commit behind `cowApply`/`cowApplyStr`:
    * key-type-specific pruning comes in as `affectedOf`, everything
    * else (scan, semi/anti join, audit, delta manifest, CAS retry,
    * feed capture) is identical. */
  private def cowApplyCore(spark: SparkSession, table: String,
      inserts: DataFrame, insRows: Long, touchedKeys: DataFrame,
      keyCol: String, affectedOf: Snapshot => Seq[FileEntry],
      statsCols: Seq[String], strStatsCols: Seq[String],
      txnId: Option[String], bloomStatsCols: Seq[String]): Long = {
    val landed = commitOn(table, txnId) { (base, _) =>
      // `inserts` is the complete source relation (updates + new
      // keys); the carried remainder was validated when written
      enforceChecks(spark, table, base.checks, inserts, "merge")
      val affected = affectedOf(base)
      val (newFiles, newRows, matched, scanRows) =
        if (affected.isEmpty) {
          // every file's stats exclude every touched key: pure insert
          val (nf, nr) = writeDataFiles(spark, table, inserts, statsCols,
            strStatsCols, bloomStatsCols)
          (nf, nr, 0L, 0L)
        } else {
          val scan = morScan(spark, table, base, affected)
          val sRows = liveRowsOf(spark, table, base, affected)
          val m = scan.join(touchedKeys, Seq(keyCol), "left_semi").count()
          val remainder = scan.join(touchedKeys, Seq(keyCol), "left_anti")
          val (nf, nr) = writeDataFiles(spark, table,
            remainder.unionByName(inserts), statsCols, strStatsCols,
            bloomStatsCols)
          (nf, nr, m, sRows)
        }
      require(newRows == scanRows - matched + insRows,
        s"merge audit failed for $table: rewrite produced $newRows " +
          s"rows from $scanRows affected − $matched matched + $insRows " +
          "inserts — not committing")
      Some(Change("merge", base.rows - matched + insRows, base.schemaJson,
        base.counters, adds = newFiles, removes = affected.map(_.path)))
    }
    // typed-feed capture of the upsert's delete/insert halves (CDC
    // tables only — the guard upstream refused plain feeds); a crash
    // before the done-marker is healed by the next publish
    if (landed.fresh && feedEnabled(table)) publishFeed(spark, table)
    landed.version
  }

  /** Reclaim invisible garbage: data files referenced by NO manifest
    * (crashed or lost-CAS writers) and stale temp manifests. Keeps
    * every committed version readable; pass `keepVersions` to also
    * drop old manifests and the files only they reference. Returns the
    * deleted paths (table-relative).
    *
    * Unreferenced does NOT mean dead: an IN-FLIGHT append has already
    * written its data files (and may have written its temp manifest)
    * but not yet committed the manifest that references them. Deleting
    * those would silently lose the append's data after it commits — so
    * vacuum only reclaims unreferenced files and temp manifests OLDER
    * than `olderThanMs` (default mirrors StagedCommit's stale-lease
    * window). Set `olderThanMs = 0` ONLY when no writer can be running
    * concurrently — with the guard off, a racing writer's pre-commit
    * data files are fair game again (the writer or its readers then
    * fail loudly on the missing files; a vanished TEMP manifest alone
    * degrades to a clean CAS retry in `commit`). */
  def vacuum(spark: SparkSession, table: String,
      keepVersions: Int = Int.MaxValue,
      olderThanMs: Long = StagedCommit.staleLeaseDefaultMs,
      keepFromVersion: Long = Long.MaxValue): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val latest = latestVersion(table)
    if (latest == 0) return Nil
    val cutoff = System.currentTimeMillis() - olderThanMs
    // a concurrently-vanished path (racing writer/vacuum) is never
    // stale — it is not ours to touch, and probing it must not throw
    def stale(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis <= cutoff
      catch { case _: java.io.IOException => false }
    // retention is CHECKPOINT-granular: a retained delta resolves
    // against its chain back to the nearest checkpoint, so never drop
    // past the newest full manifest at-or-below the requested floor
    // (v1 is always full, so the floor always lands)
    // two independent "keep" constraints — the last `keepVersions`
    // commits AND everything from `keepFromVersion` on — retain their
    // union: the floor is the LOWER of the two. `keepFromVersion` is
    // an absolute version so a commit racing the vacuum can only grow
    // what's retained, never shift the floor past it (vacuumBefore's
    // timestamp contract depends on this)
    val requested = math.max(1L,
      math.min(keepFromVersion, latest - keepVersions.toLong + 1))
    val dropBelow = floorAtFullManifest(table, requested, latest)
    val keep = protectedIntervals(table, dropBelow, latest)
    def isProtected(v: Long) = keep.exists(iv => v >= iv._1 && v <= iv._2)
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    // drop retired manifests first so their references stop counting;
    // deleteIfExists — two concurrent vacuums race here, and the loser
    // must skip quietly, not throw mid-sweep (exists-then-delete TOCTOU).
    // TAG-protected intervals survive below the floor.
    (1L until dropBelow).filterNot(isProtected).foreach { v =>
      val p = manifestPath(table, v)
      if (Files.deleteIfExists(p)) deleted += s"_log/${p.getFileName}"
    }
    listDir(logDir(table))
      .filter(p => p.getFileName.toString.startsWith(".tmp-") && stale(p))
      .foreach { p =>
        if (Files.deleteIfExists(p)) deleted += s"_log/${p.getFileName}" }
    // union of every retained version's file list across ALL protected
    // intervals (main window + tag chains), each computed in ONE
    // forward replay from its floor checkpoint: O(retained manifests)
    val referenced: Set[String] =
      keep.iterator.flatMap(iv =>
        replayRefs(table, iv._1, iv._2, "vacuum")).toSet
    val dataRoot = Paths.get(table, "data")
    // Files.walk throws mid-iteration when an entry vanishes under it
    // (a racing writer's _temporary files); list children defensively
    // instead — vanished subtrees simply drop out. Children precede
    // their parent, so files go before their (possibly emptied) dirs.
    def listDeep(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Seq(p)
      else {
        val kids =
          try listDir(p)
          catch { case _: java.io.IOException => Nil }
        kids.flatMap(listDeep) :+ p
      }
    if (Files.exists(dataRoot)) {
      listDeep(dataRoot).foreach { p =>
        val rel = Paths.get(table).relativize(p).toString
        if (Files.isRegularFile(p) && !referenced.contains(rel) && stale(p)) {
          if (Files.deleteIfExists(p)) deleted += rel
        } else if (Files.isDirectory(p) && p != dataRoot && stale(p) &&
            (try listDir(p).isEmpty
             catch { case _: java.io.IOException => false })) {
          try Files.deleteIfExists(p) // empty set dir left behind
          catch { case _: java.nio.file.DirectoryNotEmptyException => () }
        }
      }
    }
    deleted.toSeq
  }
}
