package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.core.StudyDiscovery
import graft.pipelines.Pipelines
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}

import perfbench.Trace.Tracer
import perfbench.Workload.timed

/** The paper's own workload: convert a generated datahub with
  * `Pipelines.convertCna(withDerived = true)` and `convertMutations`,
  * gather the per-study outputs into one directory, and `combine` the
  * CNA-derived and the mutation tables. All of its work is in `core`,
  * `operators` and `ParquetSink`, none in `TableLog`. */
final class ImportHub(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  private var hub: Gen.Hub = _
  private var gathered: Path = _

  def setup(dir: Path): Unit = {
    hub = Gen.writeHub(dir.resolve("hub"), seed)
    gathered = dir.resolve("gathered")
  }

  def round(t: Tracer): Round = {
    val ops = ArrayBuffer[(String, Double)]()
    val failures = ArrayBuffer[String]()
    val root = hub.root.toString
    t.span("import", 0) {
      if (t.enabled) t.span("core.StudyDiscovery", 0) {
        StudyDiscovery.findCnaFiles(root); StudyDiscovery.findMutationFiles(root)
      }
      timed("convert_cna", ops, failures) {
        t.span("pipelines.convertCna", 0) { Pipelines.convertCna(spark, root, withDerived = true) }
      }
      timed("convert_mutations", ops, failures) {
        t.span("pipelines.convertMutations", 1) { Pipelines.convertMutations(spark, root) }
      }
      gather()
      timed("combine", ops, failures) {
        t.span("pipelines.combine", 2) {
          Pipelines.combine(spark, gathered.toString, "hub", Pipelines.cnaDerivedSuffixes)
          Pipelines.combine(spark, gathered.toString, "hub", Pipelines.mutationSuffixes)
        }
      }
    }
    Round(ops.toVector, failures.toVector)
  }

  /** Move every per-study output next to its inputs into one directory,
    * as an importer gathers a hub's tables before loading them. */
  private def gather(): Unit = {
    Files.createDirectories(gathered)
    hub.studies.foreach { s =>
      val outs = Files.list(s.dir)
      try outs.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toVector.foreach(p => Files.move(p, gathered.resolve(p.getFileName)))
      finally outs.close()
    }
  }

  private def out(s: Gen.Study, base: String, suffix: String): String =
    gathered.resolve(s"${s.id}_${base}_$suffix.parquet").toString

  def check(): Vector[String] = {
    val bad = ArrayBuffer[String]()
    Pipelines.cnaDerivedSuffixes.foreach { suffix =>
      val want = hub.studies.map(s => s.id -> (suffix match {
        case "genetic_alterations" => hub.genes.toLong
        case "genetic_profile_samples" => 1L
        case _ => hub.genes.toLong * s.samples
      })).toMap
      checkTable("data_cna", suffix, want, bad)
    }
    val want = hub.studies.map(s => s.id -> s.mafRows.toLong).toMap
    checkTable("data_mutations", "mutation", want, bad)
    // MUTATION_EVENT_ID ranges: contiguous within each file and across files
    val ranges = checkTable("data_mutations", "mutation_event", want, bad)
    ranges.toSeq.sortBy(_._2._1).foldLeft(0L) { case (next, (id, (lo, hi, n))) =>
      if (lo != next || hi - lo + 1 != n)
        bad += s"$id MUTATION_EVENT_ID [$lo, $hi] over $n rows, expected from $next"
      hi + 1
    }
    bad.toVector
  }

  /** Check one output table kind: each study's row count, and that the
    * combined table is exactly the union of the per-study tables.
    * Returns each study's (min, max, count) of MUTATION_EVENT_ID, when
    * the table has that column. */
  private def checkTable(base: String, suffix: String, rows: Map[String, Long],
      bad: ArrayBuffer[String]): Map[String, (Long, Long, Long)] = {
    val combined = spark.read.parquet(gathered.resolve(s"hub_$suffix.parquet").toString)
    val cols = combined.columns.toSeq
    val inputs = spark.read.parquet(hub.studies.map(out(_, base, suffix)): _*)
      .select(cols.map(col): _*)
    val id = "MUTATION_EVENT_ID"
    val hasId = cols.contains(id)
    val perStudy = inputs.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)), if (hasId) min(id) else lit(0L), if (hasId) max(id) else lit(0L))
      .collect().map { r =>
        val f = r.getString(0)
        hub.studies.find(s => f.contains(s"/${s.id}_${base}_$suffix.parquet/")).get.id ->
          (r.getLong(2), r.getLong(3), r.getLong(1))
      }.toMap
    rows.foreach { case (study, want) =>
      val got = perStudy.get(study).map(_._3).getOrElse(0L)
      if (got != want) bad += s"$study $suffix: $got rows, expected $want"
    }
    val (got, want) = (Check.digest(combined), Check.digest(inputs))
    if (got != want) bad += s"combined $suffix: $got, expected the union $want"
    perStudy
  }

  private def outputs: Vector[Disk.FileRec] = Disk.parquetParts(gathered)

  def storageAmp: Double = Disk.bytes(outputs).toDouble / hub.tsvBytes

  def inputs: Map[String, Any] = Map("studies" -> hub.studies.size,
    "genes" -> hub.genes, "tsv_bytes" -> hub.tsvBytes, "matrix_cells" -> hub.cells,
    "maf_rows" -> hub.mafRows)

  def layers(t: Tracer): Map[String, Double] = {
    val spans = t.all
    def one(name: String) = spans.find(_.name == name).get
    val pass = one("import")
    val calls = Seq("pipelines.convertCna", "pipelines.convertMutations",
      "pipelines.combine").map(one)
    val w = t.work(pass)
    val cna = t.work(one("pipelines.convertCna"))
    val wallMs = calls.map(t.wallMs).sum.toDouble
    val outs = outputs
    Map(
      "import.convert_cna_s" -> t.wallMs(calls(0)) / 1e3,
      "import.convert_mutations_s" -> t.wallMs(calls(1)) / 1e3,
      "import.combine_s" -> t.wallMs(calls(2)) / 1e3,
      "import.jobs" -> w.jobs.toDouble,
      "import.tasks" -> w.tasks.toDouble,
      "convert_cna.tasks_per_job" -> cna.tasks.toDouble / math.max(cna.jobs, 1),
      "import.cores_busy" -> w.runMs / (wallMs * cores),
      "import.driver_gap_s" -> calls.map(t.gapMs).sum / 1e3,
      "import.shuffle_bytes" -> w.shuffleBytes.toDouble,
      "import.spill_bytes" -> w.spillBytes.toDouble,
      "sinks.parquet_bytes_out" -> Disk.bytes(outs).toDouble,
      "sinks.parquet_files_out" -> outs.size.toDouble,
      "operators.derived_rows" -> spark.read.parquet(
        hub.studies.map(out(_, "data_cna", "derived")): _*).count().toDouble,
      "convert_mutations.jobs" -> t.work(calls(1)).jobs.toDouble,
      "core.discover_ms" -> t.wallMs(one("core.StudyDiscovery")).toDouble,
      "core.tsv_mb_in" -> hub.tsvBytes / 1e6)
  }
}
