package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.SessionProfile
import graft.catalog.GraftCatalog
import graft.plans.ResolveGraftCatalogReads
import org.apache.spark.sql.SparkSession

import perfbench.Trace.Tracer

/** The benchmark's entry point: one workload, one seed, one run.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --cores <n> [--artifact <file>] [--sha <git sha>]
  * }}}
  *
  * A round is a fresh set-up and the workload's seeded operation
  * sequence. A run sets up and runs one untimed warm-up round, then
  * measures `minRounds` rounds and more until `--seconds` have passed.
  * With `--trace 1` it then runs one traced round, whose counts repeat
  * exactly on one seed. The last line of standard output is the result
  * as JSON. */
object Main {

  val catalog = "graft"

  /** End-to-end metrics, measured with tracing off: name -> unit. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "round_s" -> "s",
    "storage_amp" -> "ratio", "heap_live_mb" -> "MB")

  /** Measured rounds per run, however long they take. */
  val minRounds = 3

  /** Per-layer metrics of a traced run (every workload reports all of
    * them; a layer a workload does not use reads 0): name -> unit. */
  val perLayer: Seq[(String, String)] = Seq(
    "import.convert_cna_s" -> "s", "import.convert_mutations_s" -> "s",
    "import.combine_s" -> "s", "import.jobs" -> "count", "import.tasks" -> "count",
    "convert_cna.tasks_per_job" -> "count", "import.cores_busy" -> "ratio",
    "import.driver_gap_s" -> "s", "import.shuffle_bytes" -> "bytes",
    "import.spill_bytes" -> "bytes", "sinks.parquet_bytes_out" -> "bytes",
    "sinks.parquet_files_out" -> "count", "operators.derived_rows" -> "count",
    "convert_mutations.jobs" -> "count", "core.discover_ms" -> "ms",
    "core.tsv_mb_in" -> "MB") ++
    Gen.commitKinds.flatMap(k => Seq(s"commit.$k.jobs" -> "count",
      s"commit.$k.tasks" -> "count", s"commit.$k.ms" -> "ms")) ++ Seq(
    "commit.p50_ms" -> "ms", "commit.p90_ms" -> "ms",
    "commit.driver_gap_frac" -> "ratio", "commit.files_added" -> "count",
    "commit.files_removed" -> "count", "commit.bytes_written" -> "bytes",
    "log.manifest_bytes" -> "bytes", "log.snapshot_ms" -> "ms",
    "feed.bytes_per_commit" -> "bytes") ++
    Gen.readKinds.map(k => s"read.$k.ms" -> "ms") ++ Seq(
    "read.p50_ms" -> "ms", "read.p90_ms" -> "ms",
    "read.jobs_per_op" -> "count", "read.tasks_per_op" -> "count",
    "scan.files_kept_frac" -> "ratio", "scan.input_records_per_row" -> "ratio",
    "feed.drain_ms" -> "ms", "feed.drain_jobs" -> "count",
    "spark.stages" -> "count", "spark.task_s" -> "s", "spark.gc_s" -> "s",
    "trace.overhead_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, cores: Int, artifact: Option[Path], sha: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace $t is not 0 or 1")
      },
      Paths.get(need("work")), need("cores").toInt, kv.get("artifact").map(Paths.get(_)),
      kv.getOrElse("sha", "unknown"))
    require(Workload.names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0 && a.cores > 0, "--seconds and --cores must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = SessionProfile.tune(SparkSession.builder())
      .master(s"local[${a.cores}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .config(s"spark.sql.catalog.$catalog", classOf[GraftCatalog].getName)
      .config(s"spark.sql.catalog.$catalog.warehouse", a.work.resolve("wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ResolveGraftCatalogReads.install(spark)
    try run(spark, a) finally spark.stop()
    sys.exit(0)
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(spark: SparkSession, a: Args): Unit = {
    val w = Workload(a.workload, spark, a.seed, a.cores, a.work.resolve("wh"), catalog)
    val untraced = new Tracer(spark.sparkContext, enabled = false)
    var roundNo = 0
    def roundDir(): Path = {
      if (roundNo > 0) Disk.delete(a.work.resolve(s"round-$roundNo"))
      roundNo += 1
      a.work.resolve(s"round-$roundNo")
    }

    // warm-up: class loading, JIT and codegen caches
    val w0 = System.nanoTime()
    w.setup(roundDir())
    w.round(untraced)
    System.err.println(f"perfbench: warm-up ${seconds(w0)}%.1f s")

    val setups, rounds = ArrayBuffer[Double]()
    var heapMb = 0.0
    val ops = ArrayBuffer[(String, Double)]()
    val failures = ArrayBuffer[String]()
    val t0 = System.nanoTime()
    while (rounds.size < minRounds || seconds(t0) < a.seconds) {
      val dir = roundDir()
      val s0 = System.nanoTime()
      w.setup(dir)
      setups += seconds(s0)
      val r = w.round(untraced)
      rounds += r.ops.map(_._2).sum / 1e3
      ops ++= r.ops
      failures ++= r.failures
      heapMb = math.max(heapMb, liveHeapMb())
    }
    System.err.println(f"perfbench: ${rounds.size} rounds ${seconds(t0)}%.1f s")
    val c0 = System.nanoTime()
    failures ++= w.check()
    System.err.println(f"perfbench: checks ${seconds(c0)}%.1f s")
    val amp = w.storageAmp

    // one round's time, from each op kind's median latency: robust to a
    // stall that hits a single op
    val roundS = ops.groupBy(_._1).values.map { xs =>
      xs.size / rounds.size.toDouble * Stats.median(xs.map(_._2).toSeq)
    }.sum / 1e3
    val e2e = Map("setup_s" -> Stats.median(setups.toSeq), "round_s" -> roundS,
      "storage_amp" -> amp, "heap_live_mb" -> heapMb)
    // latency percentiles of the table workload's commits and reads
    val pct = Seq("commit", "read").flatMap { k =>
      val lat = ops.filter(_._1.startsWith(k + ".")).map(_._2).toSeq
      if (lat.isEmpty) Nil
      else Seq((s"$k.p50_ms", Stats.percentile(lat, 50), lat.size),
        (s"$k.p90_ms", Stats.percentile(lat, 90), lat.size))
    }

    var layers = Map.empty[String, Double]
    var spans = Seq.empty[Map[String, Any]]
    if (a.trace) {
      w.setup(roundDir())
      val tracer = new Tracer(spark.sparkContext, enabled = true)
      val r = w.round(tracer)
      tracer.settle()
      failures ++= r.failures ++ w.check()
      val top = tracer.all.filter(_.parent < 0)
      val work = top.map(tracer.work).foldLeft(Trace.noWork)(_ + _)
      val tracedS = r.ops.map(_._2).sum / 1e3
      layers = perLayer.map(_._1 -> 0.0).toMap ++ w.layers(tracer) ++
        pct.map { case (k, v, _) => k -> v.getOrElse(0.0) } ++ Map(
          "spark.stages" -> work.stages.toDouble, "spark.task_s" -> work.runMs / 1e3,
          "spark.gc_s" -> work.gcMs / 1e3,
          "trace.overhead_s" -> (tracedS - Stats.median(rounds.toSeq)))
      spans = tracer.dump()
    }

    val attempted = ops.size
    val failed = math.min(failures.size, attempted)
    val env = describe(spark, a) ++ Map("inputs" -> w.inputs)
    // human-readable report: every metric by name and unit
    println(s"perfbench ${a.workload} seed=${a.seed} ${Json(env)}")
    println(f"  rounds=${rounds.size}%d ops=$attempted%d failed=$failed%d " +
      f"error_rate=${failed.toDouble / attempted}%.4f")
    endToEnd.foreach { case (k, u) => println(f"  $k%-28s ${e2e(k)}%14.4f $u") }
    ops.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      val v = xs.map(_._2).toSeq
      println(f"  ${k + "_ms"}%-28s median ${Stats.median(v)}%10.1f ms over ${v.size} ops")
    }
    pct.foreach { case (k, v, n) => println(f"  $k%-28s ${v.fold("n/a")(x => f"$x%.1f")}%14s ms" +
      s" (n=$n, reported only with >= 10 samples beyond it)") }
    perLayer.filter(x => layers.contains(x._1)).foreach { case (k, u) =>
      println(f"  $k%-28s ${layers(k)}%14.4f $u") }
    failures.take(20).foreach(f => println(s"  FAILED: $f"))

    val metrics =
      if (a.trace) perLayer.map { case (k, u) => k -> Map("value" -> layers(k), "unit" -> u) }
      else endToEnd.map { case (k, u) => k -> Map("value" -> e2e(k), "unit" -> u) }
    a.artifact.foreach { p =>
      Files.createDirectories(p.toAbsolutePath.getParent)
      Files.write(p, Json(mutable.LinkedHashMap("workload" -> a.workload, "env" -> env,
        "rounds" -> rounds.size, "attempted" -> attempted, "failed" -> failed,
        "end_to_end" -> e2e,
        "percentiles" -> pct.map { case (k, v, n) => k -> Map("value" -> v, "n" -> n) }.toMap,
        "per_layer" -> layers,
        "failures" -> failures, "spans" -> spans)).getBytes(UTF_8))
    }
    println(Json(mutable.LinkedHashMap("correct" -> failures.isEmpty, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> mutable.LinkedHashMap(metrics: _*))))
  }

  /** What the numbers were measured on. */
  def describe(spark: SparkSession, a: Args): Map[String, Any] = {
    val sc = spark.sparkContext
    Map("cpus" -> a.cores, "master" -> sc.master,
      "default_parallelism" -> sc.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "spark_version" -> spark.version, "git_sha" -> a.sha, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace)
  }

  /** Heap still in use after a full collection: what the program keeps
    * alive between operations. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
