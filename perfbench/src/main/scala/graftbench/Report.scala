package graftbench

import java.io.{File, PrintWriter}

import scala.io.Source

/** Turns samples and per-op counters into the reported metrics. */
object Report {

  /** End-to-end metrics (untraced run), in BENCHMARK.json order. */
  val endToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "meta_p50_s" -> "s", "query_p50_s" -> "s",
    "scan_msgs_per_s" -> "1/s", "peak_rss_mb" -> "MB")

  /** Per-layer metrics (traced run), in BENCHMARK.json order. */
  val perLayerUnits: Seq[(String, String)] = Seq(
    "source.plan_s" -> "s", "source.partitions" -> "count", "source.files" -> "count",
    "source.rows_read" -> "count", "source.bytes_read" -> "bytes",
    "source.files_read" -> "count", "source.scan_task_s" -> "s",
    "source.useful_row_ratio" -> "ratio", "source.effective_parallelism" -> "ratio",
    "source.index_build_s" -> "s", "source.index_bytes_per_mb" -> "bytes/MB",
    "landing.ingest_s" -> "s",
    "pst.open_s" -> "s", "pst.enumerate_s" -> "s", "pst.scan_task_s" -> "s",
    "plans.optimize_s" -> "s", "plans.physical_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.driver_gap_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.max_task_share" -> "ratio",
    "exchange.write_bytes" -> "bytes", "exchange.read_bytes" -> "bytes",
    "exchange.fetch_wait_s" -> "s", "exchange.spill_bytes" -> "bytes",
    "pin.bytes" -> "bytes", "pin.blocks" -> "count",
    "parquet.files_read" -> "count", "parquet.bytes_read" -> "bytes",
    "parquet.scan_s" -> "s",
    "commit.files" -> "count", "commit.bytes" -> "bytes", "commit.write_s" -> "s",
    "trace.overhead_s" -> "s")

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Logs the tail of latency samples: the highest percentile with ten
    * samples above it, when the run collected enough for one.
    */
  private def logTail(label: String, xs: Seq[Double]): Unit =
    System.err.println(s"$label: n=${xs.size}, " + Stats.tailPercentile(xs.size)
      .map(p => f"p$p%.1f=${Stats.percentile(xs, p)}%.4f s").getOrElse("no tail (n < 20)"))

  /** Every latency metric is built from each op's median latency over the
    * timed window. `pass_s` sums them: one pass at median speed, steadier
    * than the wall of the few whole passes a run completes. The p50
    * metrics average them over the metadata ops and over the other ops,
    * so they do not jump between op types the way a pooled median does.
    * `scan_msgs_per_s` divides the messages the scan ops read by the sum
    * of their medians.
    */
  def endToEnd(setupSeconds: Seq[Double], samples: Seq[Main.Sample]): Map[String, Double] = {
    logTail("meta", samples.filter(_.meta).map(_.seconds))
    logTail("query", samples.filterNot(_.meta).map(_.seconds))
    val perOp = samples.groupBy(_.op).values.map(v => (v.head, Stats.median(v.map(_.seconds)))).toSeq
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val scans = perOp.filter(_._1.scanned > 0)
    Map(
      "setup_s"         -> Stats.median(setupSeconds),
      "pass_s"          -> perOp.map(_._2).sum,
      "meta_p50_s"      -> mean(perOp.filter(_._1.meta).map(_._2)),
      "query_p50_s"     -> mean(perOp.filterNot(_._1.meta).map(_._2)),
      "scan_msgs_per_s" -> scans.map(_._1.scanned).sum / scans.map(_._2).sum,
      "peak_rss_mb"     -> peakRssMb())
  }

  /** One traced pass: counters summed over its ops (the largest task share
    * is a maximum, not a sum).
    */
  def passCounts(ops: Seq[OpTrace]): Map[String, Double] = {
    val keys = ops.flatMap(_.counts.keys).distinct
    keys.map { k =>
      val vs = ops.map(_.counts.getOrElse(k, 0.0))
      k -> (if (k == "exec.max_task_share") vs.max else vs.sum)
    }.toMap
  }

  def perLayer(setup: Map[String, Double], traced: Seq[Map[String, Double]],
      passes: Seq[(Int, Boolean, Double)]): Map[String, Double] = {
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val perPass = traced.map { c0 =>
      val c = (setup ++ c0).withDefaultValue(0.0)
      c ++ Map(
        "source.useful_row_ratio" -> ratio(c("source.rows_out"), c("source.rows_read")),
        "source.effective_parallelism" -> ratio(c("parallelism_sum"), c("scan_ops")),
        "source.index_bytes_per_mb" ->
          ratio(c("source.index_bytes"), c("source.indexed_bytes") / (1 << 20)))
    }
    val overhead = Stats.median(passes.filter(_._2).map(_._3)) -
      Stats.median(passes.filterNot(_._2).map(_._3))
    perLayerUnits.map(_._1).map {
      case "trace.overhead_s" => "trace.overhead_s" -> overhead
      case k                  => k -> Stats.median(perPass.map(_.getOrElse(k, 0.0)))
    }.toMap
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
      metrics: Map[String, Double]): String = {
    val units = (endToEndUnits ++ perLayerUnits).toMap
    val body = (endToEndUnits ++ perLayerUnits).map(_._1).filter(metrics.contains).map { k =>
      s"${str(k)}: {\"value\": ${num(metrics(k))}, \"unit\": ${str(units(k))}}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}"""
  }

  /** The traced-run artifact: every op's spans (with self time) and
    * counters, the per-layer metrics and the tracing overhead.
    */
  def writeTrace(out: File, workload: String, seed: Long, tracer: Tracer,
      layer: Map[String, Double]): Unit = {
    out.getParentFile.mkdirs()
    val selfByName = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val ops = tracer.ops.map { o =>
      val self = Tracer.selfTimes(o.spans)
      o.spans.foreach(s => selfByName(s.name.takeWhile(_ != ':')) += self(s.id))
      val spans = o.spans.sortBy(_.id).map { s =>
        s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${str(s.name)}, """ +
          s""""start_ms": ${num(s.start)}, "end_ms": ${num(s.end)}, "self_ms": ${num(self(s.id))}}"""
      }
      val counts = o.counts.toSeq.sorted.map { case (k, v) => s"${str(k)}: ${num(v)}" }
      s"""{"op": ${o.op}, "name": ${str(o.name)}, "pass": ${o.pass}, """ +
        s""""counts": {${counts.mkString(", ")}}, "spans": [${spans.mkString(", ")}]}"""
    }
    val selfTotals = selfByName.toSeq.sorted.map { case (k, v) => s"${str(k)}: ${num(v)}" }
    val metrics = perLayerUnits.map(_._1).map(k => s"${str(k)}: ${num(layer(k))}")
    val w = new PrintWriter(out, "UTF-8")
    try w.println(
      s"""{"workload": ${str(workload)}, "seed": $seed, """ +
        s""""tracing_overhead_s": ${num(layer("trace.overhead_s"))}, """ +
        s""""self_ms_by_span": {${selfTotals.mkString(", ")}}, """ +
        s""""per_layer": {${metrics.mkString(", ")}}, "ops": [\n${ops.mkString(",\n")}\n]}""")
    finally w.close()
  }
}
