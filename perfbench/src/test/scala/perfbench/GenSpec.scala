package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def contents(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
      root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def hub(seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gen")
    try {
      Gen.writeHub(dir.resolve("hub"), seed)
      contents(dir)
    } finally Disk.delete(dir)
  }

  test("the same seed writes a byte-identical datahub, another seed a different one") {
    val a = hub(7)
    assert(a.keySet.exists(_.endsWith("data_cna.txt")))
    assert(a == hub(7))
    val b = hub(8)
    assert(a != b)
    // sizes are fixed; only contents depend on the seed
    assert(a.size == b.size)
  }

  test("the datahub has the shape the importer checks rely on") {
    val dir = Files.createTempDirectory("perfbench-gen")
    try {
      val h = Gen.writeHub(dir.resolve("hub"), 3)
      assert(h.studies.map(_.samples) == Gen.studySamples)
      val drift = h.studies(Gen.driftStudy).dir.resolve("data_mutations.txt")
      val lines = Files.readAllLines(drift).asScala
      assert(lines.take(2).forall(_.startsWith("#")))
      assert(!lines(2).split("\t").contains("dbSNP_RS"))
      assert(lines.size == 3 + h.studies(Gen.driftStudy).mafRows)
    } finally Disk.delete(dir)
  }

  test("the same seed yields the same commit and read sequences, another seed others") {
    val kinds = Gen.shuffled(5, Seq("append" -> 3, "merge" -> 2, "delete_mor" -> 1))
    assert(kinds == Gen.shuffled(5, Seq("append" -> 3, "merge" -> 2, "delete_mor" -> 1)))
    assert(kinds.sorted == Seq("append", "append", "append", "delete_mor", "merge", "merge"))
    assert(Gen.commits(5, 100, kinds, 10) == Gen.commits(5, 100, kinds, 10))
    assert(Gen.commits(5, 100, kinds, 10) != Gen.commits(6, 100, kinds, 10))
    assert(Gen.reads(5, 10000, 14000, 20, 10) == Gen.reads(5, 10000, 14000, 20, 10))
    assert(Gen.reads(5, 10000, 14000, 20, 10) != Gen.reads(6, 10000, 14000, 20, 10))
  }

  test("every read sequence has the same mix, within the keys and versions it may use") {
    (1 to 50).foreach { seed =>
      val rs = Gen.reads(seed, 10000, 14000, 20, 10)
      assert(rs.head == Gen.DrainRead)
      assert(rs.tail.groupBy(_.kind).view.mapValues(_.size).toMap == Gen.readCounts.toMap)
      rs.foreach {
        case Gen.ChangesRead(a, b) => assert(1 <= a && a < b && b <= 10)
        case Gen.VersionRead(v) => assert(1 <= v && v <= 20)
        case Gen.RangeRead(lo, hi) => assert(10000 <= lo && hi < 14000)
        case Gen.SqlRead(lo, hi, _) => assert(0 <= lo && hi < 10000)
        case _ =>
      }
    }
  }

  test("the model applies every commit kind") {
    val (initial, ops) = Gen.commits(1, 50, Gen.commitKinds, 10)
    val m = new Check.Model(initial)
    ops.foreach(m(_))
    val ids = m.rows.keySet
    ops.foreach {
      case Gen.DeleteMor(keys) => assert(keys.forall(k => !ids(k)))
      case _ =>
    }
    assert(m.digest == Check.digestOf(m.rows.values))
  }
}
