package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. Every workload's inputs come from here and
  * from the seed alone: the same seed yields byte-identical files and
  * the same operation sequences, a different seed different ones.
  * Sizes are fixed per workload and never depend on the seed, so run
  * to run spread measures the system and not the input size. */
object Gen {

  // ── import_hub: a cBioPortal datahub ─────────────────────────────

  /** Sample counts per study: one wide study and small ones, the skew
    * of a real datahub, scaled down so that a run fits in a minute. */
  val studySamples: Seq[Int] = Seq(250, 60, 50)
  val genes = 500
  val mutationsPerSample = 4
  /** The study whose MAF lacks some columns (schema drift). */
  val driftStudy = 2
  val droppedMafColumns = Seq("dbSNP_RS", "Center", "t_ref_count", "n_ref_count")

  val mafColumns: Seq[String] = Seq("Hugo_Symbol", "Entrez_Gene_Id", "Center",
    "NCBI_Build", "Chromosome", "Start_Position", "End_Position", "Strand",
    "Variant_Classification", "Variant_Type", "Reference_Allele",
    "Tumor_Seq_Allele1", "Tumor_Seq_Allele2", "dbSNP_RS", "dbSNP_Val_Status",
    "Tumor_Sample_Barcode", "Matched_Norm_Sample_Barcode",
    "Match_Norm_Seq_Allele1", "Match_Norm_Seq_Allele2", "Mutation_Status",
    "Validation_Status", "Sequencer", "HGVSp_Short", "t_alt_count",
    "t_ref_count", "n_alt_count", "n_ref_count")

  final case class Study(id: String, dir: Path, samples: Int, mafRows: Int)

  final case class Hub(root: Path, studies: Seq[Study], genes: Int,
      tsvBytes: Long) {
    def cells: Long = studies.map(_.samples.toLong * genes).sum
    def mafRows: Long = studies.map(_.mafRows.toLong).sum
  }

  private val bases = "ACGT"
  private val classes = Seq("Missense_Mutation", "Nonsense_Mutation",
    "Silent", "Frame_Shift_Del", "Splice_Site")
  private val cnaValues = Array("0", "0", "0", "0", "-1", "1", "-2", "2")

  private def token(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb.append(('A' + r.nextInt(26)).toChar))
    sb.toString
  }

  private def writer(p: Path): BufferedWriter = {
    Files.createDirectories(p.getParent)
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), UTF_8),
      1 << 16)
  }

  private def writeText(p: Path, text: String): Unit = {
    val w = writer(p)
    try w.write(text) finally w.close()
  }

  /** Write the datahub under `root` (which must not exist yet). */
  def writeHub(root: Path, seed: Long): Hub = {
    val r = new SplittableRandom(seed)
    val tag = token(r, 4).toLowerCase
    val geneSyms = (0 until genes).map(i => f"${token(r, 4)}$i%04d")
    val studies = studySamples.zipWithIndex.map { case (n, i) =>
      val id = f"study_$tag%s_$i%02d"
      val dir = root.resolve(id)
      val barcodes = (0 until n).map(j => f"TCGA-${token(r, 2)}%s-$j%04d")
      writeText(dir.resolve("meta_cna.txt"),
        s"cancer_study_identifier: $id\ngenetic_alteration_type: COPY_NUMBER_ALTERATION\n" +
          "stable_id: gistic\ndata_filename: data_cna.txt\n")
      writeText(dir.resolve("meta_mutations.txt"),
        s"cancer_study_identifier: $id\nstable_id: mutations\n" +
          "data_filename: data_mutations.txt\n")
      writeText(dir.resolve("case_lists").resolve("cases_all.txt"),
        s"cancer_study_identifier: $id\nstable_id: ${id}_all\n" +
          s"case_list_ids: ${barcodes.mkString("\t")}\n")
      val cna = writer(dir.resolve("data_cna.txt"))
      try {
        cna.write(("Hugo_Symbol" +: "Entrez_Gene_Id" +: barcodes).mkString("\t"))
        cna.write('\n')
        geneSyms.zipWithIndex.foreach { case (g, gi) =>
          cna.write(g); cna.write('\t'); cna.write((1000 + gi).toString)
          var j = 0
          while (j < n) {
            cna.write('\t'); cna.write(cnaValues(r.nextInt(cnaValues.length))); j += 1
          }
          cna.write('\n')
        }
      } finally cna.close()
      val cols = if (i == driftStudy) mafColumns.filterNot(droppedMafColumns.contains)
                 else mafColumns
      val rows = n * mutationsPerSample
      val maf = writer(dir.resolve("data_mutations.txt"))
      try {
        maf.write("#version 2.4\n#generated study " + id + "\n")
        maf.write(cols.mkString("\t")); maf.write('\n')
        (0 until rows).foreach { k =>
          val gi = r.nextInt(genes)
          val start = 1000000L + r.nextInt(90000000)
          val ref = bases(r.nextInt(4)).toString
          val alt = bases(r.nextInt(4)).toString
          val v = Map(
            "Hugo_Symbol" -> geneSyms(gi), "Entrez_Gene_Id" -> (1000 + gi).toString,
            "Center" -> "bench", "NCBI_Build" -> "GRCh37",
            "Chromosome" -> (1 + r.nextInt(22)).toString,
            "Start_Position" -> start.toString, "End_Position" -> start.toString,
            "Strand" -> "+", "Variant_Classification" -> classes(r.nextInt(classes.size)),
            "Variant_Type" -> "SNP", "Reference_Allele" -> ref,
            "Tumor_Seq_Allele1" -> ref, "Tumor_Seq_Allele2" -> alt,
            "dbSNP_RS" -> s"rs${r.nextInt(10000000)}", "dbSNP_Val_Status" -> "",
            "Tumor_Sample_Barcode" -> barcodes(k % n),
            "Matched_Norm_Sample_Barcode" -> (barcodes(k % n) + "-N"),
            "Match_Norm_Seq_Allele1" -> ref, "Match_Norm_Seq_Allele2" -> ref,
            "Mutation_Status" -> "Somatic", "Validation_Status" -> "Unknown",
            "Sequencer" -> "Illumina", "HGVSp_Short" -> s"p.${token(r, 1)}${r.nextInt(900)}${token(r, 1)}",
            "t_alt_count" -> r.nextInt(200).toString, "t_ref_count" -> r.nextInt(200).toString,
            "n_alt_count" -> r.nextInt(20).toString, "n_ref_count" -> r.nextInt(200).toString)
          maf.write(cols.map(v).mkString("\t")); maf.write('\n')
        }
      } finally maf.close()
      Study(id, dir, n, rows)
    }
    val tsvBytes = studies.map(s =>
      Files.size(s.dir.resolve("data_cna.txt")) +
        Files.size(s.dir.resolve("data_mutations.txt"))).sum
    Hub(root, studies, genes, tsvBytes)
  }

  // ── commit_stream and read_mix: operations on one table ──────────

  /** A row of the benchmark table: a mutation call keyed by `id`. */
  final case class Row(id: Long, gene: String, sample: String, pos: Long,
      score: Long) {
    /** The row as the checksum sees it (see [[Check]]). */
    def text: String = s"$id|$gene|$sample|$pos|$score"
  }

  sealed trait Commit { def kind: String }
  final case class Append(rows: Vector[Row]) extends Commit { def kind = "append" }
  final case class Merge(rows: Vector[Row]) extends Commit { def kind = "merge" }
  final case class DeleteDv(lo: Long, hi: Long) extends Commit { def kind = "delete_dv" }
  final case class UpdateDv(lo: Long, hi: Long, delta: Long) extends Commit {
    def kind = "update_dv"
  }
  final case class DeleteMor(keys: Vector[Long]) extends Commit { def kind = "delete_mor" }
  case object Compact extends Commit { def kind = "compact" }

  val commitKinds: Seq[String] =
    Seq("append", "merge", "delete_dv", "update_dv", "delete_mor", "compact")

  /** Number of distinct sample barcodes rows draw from; point reads probe
    * them through the bloom stats. */
  val sampleSpace = 4000

  def sampleName(i: Int): String = f"S$i%05d"

  val posMax: Long = 1L << 28
  private val posSpan = posMax / 200

  /** `counts` commit kinds in a seeded order. */
  def shuffled(seed: Long, counts: Seq[(String, Int)]): Vector[String] = {
    val r = new SplittableRandom(seed ^ 0x5b0f1eL)
    val xs = counts.flatMap { case (k, n) => Seq.fill(n)(k) }.toArray
    (xs.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = xs(i); xs(i) = xs(j); xs(j) = t
    }
    xs.toVector
  }

  /** The rows of the table's first version and one commit of each kind
    * in `kinds`, in order. Keys are dense from 0: appends take the next
    * `batch`. The other kinds hit keys of the first version, within one
    * window of `batch` keys, as updates to one batch of calls do: merges
    * upsert `batch / 2` such keys and add `batch / 2` new ones,
    * deleteDv and updateDv hit 16 consecutive keys, and deleteMor 8.
    * The first version is one file, so each commit touches the same
    * files whatever the seed and the work of a sequence does not depend
    * on it. */
  def commits(seed: Long, initialRows: Int, kinds: Seq[String],
      batch: Int): (Vector[Row], Vector[Commit]) = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    var next = 0L
    def row(id: Long): Row = Row(id, f"G${r.nextInt(500)}%03d",
      sampleName(r.nextInt(sampleSpace)), r.nextLong(1L, posMax), r.nextInt(1000))
    def fresh(k: Int): Vector[Row] = Vector.fill(k) { val x = row(next); next += 1; x }
    def window(): Long = r.nextLong(0L, initialRows - batch)
    def existing(k: Int): Vector[Long] = {
      val lo = window()
      Iterator.continually(lo + r.nextInt(batch)).distinct.take(k).toVector.sorted
    }
    val initial = fresh(initialRows)
    val ops = kinds.map {
      case "append" => Append(fresh(batch))
      case "merge" => Merge(existing(batch / 2).map(row) ++ fresh(batch / 2))
      case "delete_dv" => val lo = window(); DeleteDv(lo, lo + 15)
      case "update_dv" => val lo = window(); UpdateDv(lo, lo + 15, 1 + r.nextInt(9))
      case "delete_mor" => DeleteMor(existing(8))
      case "compact" => Compact
      case k => throw new IllegalArgumentException(s"unknown commit kind $k")
    }.toVector
    (initial, ops)
  }

  sealed trait Read { def kind: String }
  final case class RangeRead(lo: Long, hi: Long) extends Read { def kind = "range" }
  final case class PointRead(sample: String) extends Read { def kind = "point" }
  /** A filter on `pos`, which no layout clusters: pruning cannot help. */
  final case class ScanRead(lo: Long, hi: Long) extends Read { def kind = "scan_where" }
  final case class SqlRead(lo: Long, hi: Long, minScore: Long) extends Read {
    def kind = "sql"
  }
  final case class VersionRead(version: Long) extends Read { def kind = "version" }
  final case class ChangesRead(from: Long, to: Long) extends Read { def kind = "changes" }
  case object DrainRead extends Read { def kind = "drain" }

  val readKinds: Seq[String] =
    Seq("range", "point", "scan_where", "sql", "version", "changes", "drain")

  /** Reads per round by kind, after one feed drain. */
  val readCounts: Seq[(String, Int)] = Seq("range" -> 4, "point" -> 3,
    "scan_where" -> 2, "sql" -> 4, "version" -> 4, "changes" -> 2)

  /** A read sequence over a table whose first version holds keys
    * `[0, initialRows)`, whose later commits added keys up to `keys`, and
    * whose versions are `[1, versions]`: one feed drain, then
    * `readCounts` in a seeded order. Ranges read added keys and SQL reads
    * first-version keys, so each prunes to the same files whatever the
    * seed. Change ranges end at `changesTo` at the latest: `readChanges`
    * is a file-level diff, which merge-on-read deletes after that
    * version cannot be part of. */
  def reads(seed: Long, initialRows: Long, keys: Long, versions: Long,
      changesTo: Long): Vector[Read] = {
    val r = new SplittableRandom(seed ^ 0x7ead5L)
    def span(from: Long, until: Long, w: Long): (Long, Long) = {
      val lo = r.nextLong(from, until - w); (lo, lo + w - 1)
    }
    DrainRead +: shuffled(seed, readCounts).map {
      case "range" => val (lo, hi) = span(initialRows, keys, 200); RangeRead(lo, hi)
      case "point" => PointRead(sampleName(r.nextInt(sampleSpace)))
      case "scan_where" => val lo = r.nextLong(1L, posMax - posSpan); ScanRead(lo, lo + posSpan)
      case "sql" => val (lo, hi) = span(0L, initialRows, 2000); SqlRead(lo, hi, r.nextInt(500))
      case "version" => VersionRead(r.nextLong(1L, versions))
      case _ =>
        val a = r.nextLong(1L, changesTo)
        ChangesRead(a, r.nextLong(a + 1, changesTo + 1))
    }
  }
}
