package graftbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile is the highest ladder step with ten samples above it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(30).contains(65.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("percentile interpolates between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(math.abs(Stats.percentile(xs, 75) - 3.25) < 1e-12)
  }

  test("self time subtracts the union of direct children, clipped to the span") {
    val spans = Seq(
      Span(0, -1, 0, "op:x", 0, 10),
      Span(1, 0, 0, "plans.optimize", 1, 3),
      Span(2, 0, 0, "exec", 2, 5),
      Span(3, 2, 0, "spark.job", 2.5, 4.5),
      Span(4, 0, 0, "spark.job", 8, 12))
    val self = Tracer.selfTimes(spans)
    assert(self(0) == 10 - (4 + 2)) // [1,5] and [8,10]; the grandchild is not subtracted
    assert(self(1) == 2)
    assert(self(2) == 3 - 2)
    assert(self(3) == 2)
  }

  test("driver gap is the op wall no job covers") {
    assert(Stats.uncovered(0, 10, Nil) == 10)
    assert(Stats.uncovered(0, 10, Seq((1.0, 2.0), (1.5, 4.0), (11.0, 12.0))) == 7)
    assert(Stats.uncovered(0, 10, Seq((-5.0, 20.0))) == 0)
    assert(Stats.uncovered(0, 10, Seq((6.0, 7.0), (2.0, 3.0))) == 8)
  }

  private def bytesOf(dir: File): Map[String, Seq[Byte]] =
    dir.listFiles.map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("the same seed writes the same corpus bytes; another seed does not") {
    val root = Files.createTempDirectory("perfbench-corpus").toFile
    try {
      val a = new File(root, "a"); val b = new File(root, "b"); val c = new File(root, "c")
      Corpus.write(a, 7); Corpus.write(b, 7); Corpus.write(c, 8)
      assert(bytesOf(a).size == Corpus.files)
      assert(bytesOf(a) == bytesOf(b))
      assert(bytesOf(a) != bytesOf(c))
      assert(Corpus.truth(7) == Corpus.truth(7))
      assert(Corpus.truth(7).count == Corpus.specs(7).map(_.messages).sum)
    } finally Workloads.delete(root)
  }

  test("BENCHMARK.json names exactly the metrics the harness reports") {
    val spec = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
    def names(key: String) = spec.get(key).elements.asScala.map(_.get("name").asText).toSeq
    assert(names("end_to_end") == Report.endToEndUnits.map(_._1))
    assert(names("per_layer") == Report.perLayerUnits.map(_._1))
    assert(names("workloads") == Workloads.names)
    val units = spec.get("end_to_end").elements.asScala.map(m =>
      m.get("name").asText -> m.get("unit").asText).toMap ++
      spec.get("per_layer").elements.asScala.map(m =>
        m.get("name").asText -> m.get("unit").asText).toMap
    assert(units == (Report.endToEndUnits ++ Report.perLayerUnits).toMap)
  }
}
