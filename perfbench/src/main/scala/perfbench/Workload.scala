package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import perfbench.Trace.Tracer

/** One round of a workload: the latency of each operation by kind, and
  * what went wrong. */
final case class Round(ops: Vector[(String, Double)], failures: Vector[String])

/** A benchmark workload. Every round runs the same seeded operation
  * sequence from the same starting state, so rounds are comparable and
  * a traced round's counts repeat exactly. */
trait Workload {
  /** Build a fresh starting state under `dir`. */
  def setup(dir: Path): Unit
  /** Run the operation sequence on the current state. */
  def round(t: Tracer): Round
  /** Check the outputs the last round left; returns what failed. */
  def check(): Vector[String]
  /** Bytes the system keeps on disk per byte of user data. */
  def storageAmp: Double
  /** Input sizes, for the artifact. */
  def inputs: Map[String, Any]
  /** Per-layer metrics from a traced round. */
  def layers(t: Tracer): Map[String, Double]
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, cores: Int,
      warehouse: Path, catalog: String): Workload =
    name match {
      case "import_hub" => new ImportHub(spark, seed, cores)
      case "table_mix" => new TableMix(spark, seed, warehouse, catalog)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  val names: Seq[String] = Seq("import_hub", "table_mix")

  /** Run `body` as one operation: its latency in ms, or the failure. */
  def timed(kind: String, ops: scala.collection.mutable.ArrayBuffer[(String, Double)],
      failures: scala.collection.mutable.ArrayBuffer[String])(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try {
      body
      ops += kind -> (System.nanoTime() - t0) / 1e6
    } catch {
      case e: Exception =>
        ops += kind -> (System.nanoTime() - t0) / 1e6
        failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
  }

  /** Mean of `xs`, 0 for none. */
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
