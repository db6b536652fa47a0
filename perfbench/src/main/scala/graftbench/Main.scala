package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

/** Closed-loop benchmark of the mailbox connector: one client issues one
  * op at a time against local[cores]. See perfbench/NOTES.md.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *        --work DIR --fixture PST --trace-out FILE
  *
  * Progress goes to stderr; the last line of stdout is the result JSON.
  */
object Main {

  final case class Sample(op: String, meta: Boolean, scanned: Long, pass: Int,
      seconds: Double)

  /** Untimed passes after the checked one, so the timed passes run on
    * JIT-compiled code instead of measuring the JVM's warm-up.
    */
  val WarmSeconds = 10.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try run(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
        a("cores").toInt, new File(a("work")), new File(a("fixture")), new File(a("trace-out")))
      catch { case NonFatal(e) => e.printStackTrace(); 2 }
    System.exit(code)
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def digest(rows: Seq[Row]): Int = MurmurHash3.orderedHash(rows.map(_.toString))

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, cores: Int,
      work: File, fixture: File, traceOut: File): Int = {
    val start = System.nanoTime()
    def phase(what: String): Unit = System.err.println(f"phase $what: ${secondsSince(start)}%.2f s")
    // the known answers are read from the generated lines while the
    // session starts
    val truth  = Future(Corpus.truth(seed))(ExecutionContext.global)
    val spark  = session(cores, work)
    val tracer = new Tracer(spark, cores, trace)
    val w      = Workloads(name, spark, tracer, work, fixture, Await.result(truth, Duration.Inf))
    phase("session")

    // set-up, repeated so its median is steady (the first repetition
    // also pays for class loading and JIT); the last corpus stays
    val setupSeconds = (0 until 5).map { r =>
      val t0 = System.nanoTime()
      w.setup(r)
      secondsSince(t0)
    }
    phase("set-up " + setupSeconds.map(x => f"$x%.2f").mkString(" "))
    System.err.println(s"corpus: ${w.files.size} files, ${w.messages} messages, " +
      s"${w.files.map(_.length).sum} bytes")

    var attempted = 0
    var failed    = 0
    val problems  = ArrayBuffer[String]()
    val reference = scala.collection.mutable.Map[String, Int]()
    def attempt(op: Op, pass: Int)(onRows: Seq[Row] => Option[String]): Unit = {
      attempted += 1
      val err =
        try onRows(tracer.op(op.name, pass)(op.run()))
        catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      err.foreach { m => failed += 1; if (problems.size < 20) problems += s"${op.name}: $m" }
    }
    def repeat(op: Op, pass: Int): Unit = attempt(op, pass) { rows =>
      if (reference.get(op.name).contains(digest(rows))) None
      else Some(s"a repeat returned ${rows.size} rows with another digest")
    }

    // checked pass: every op against the known answer; its digest is the
    // reference every later repeat must reproduce
    val warm0 = System.nanoTime()
    w.ops.foreach { op =>
      attempt(op, -1) { rows =>
        reference(op.name) = digest(rows)
        op.check(rows)
      }
    }
    val rng = new scala.util.Random(seed)
    def mix: Seq[Op] = rng.shuffle(w.ops)
    while (secondsSince(warm0) < WarmSeconds) mix.foreach(repeat(_, -1))
    phase("warm-up")

    val samples    = ArrayBuffer[Sample]()
    val passes     = ArrayBuffer[(Int, Boolean, Double)]()
    val passCounts = ArrayBuffer[Map[String, Double]]()
    val t0 = System.nanoTime()
    var pass = 0
    // the first pass (two when traced: one of each kind) always
    // completes; later ones stop at the deadline
    val minPasses = if (trace) 2 else 1
    def timeUp = pass >= minPasses && secondsSince(t0) >= seconds
    while (!timeUp) {
      // a traced run alternates untraced and traced passes, so the
      // difference of their medians is the tracing overhead
      tracer.on = trace && pass % 2 == 1
      val first = tracer.ops.size
      val p0    = System.nanoTime()
      val ops   = mix
      val done  = ops.iterator.takeWhile(_ => !timeUp).count { op =>
        val s0 = System.nanoTime()
        repeat(op, pass)
        samples += Sample(op.name, op.meta, op.scanned, pass, secondsSince(s0))
        true
      }
      if (done == ops.size) {
        passes += ((pass, tracer.on, secondsSince(p0)))
        if (tracer.on) passCounts += Report.passCounts(tracer.ops.drop(first).toSeq)
      }
      pass += 1
    }
    tracer.on = false
    phase(s"${passes.size} timed passes " + passes.map(p => f"${p._3}%.2f").mkString(" "))

    problems.foreach(p => System.err.println(s"WRONG $p"))
    val metrics =
      if (!trace) {
        // only whole passes, so every op counts equally
        val whole = passes.map(_._1).toSet
        Report.endToEnd(setupSeconds, samples.filter(s => whole(s.pass)).toSeq)
      } else {
        val layer = Report.perLayer(w.setupCounts, passCounts.toSeq, passes.toSeq)
        Report.writeTrace(traceOut, name, seed, tracer, layer)
        layer
      }
    spark.stop()
    println(Report.resultJson(failed == 0, attempted, failed, metrics))
    if (failed == 0) 0 else 1
  }
}
