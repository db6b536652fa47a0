package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.source.{Mailbox, MailboxGen, MailboxIndex, MailboxOptions, MailboxPlanner, PstScan, RecordFilter}
import graft.source.pst.PstFile

/** One closed-loop request: `meta` ops are answerable from metadata,
  * the rest read record content; a scan op reads all `scanned` messages
  * of its corpus (0 for other ops). `check` returns a description of
  * what is wrong, if anything.
  */
final case class Op(name: String, meta: Boolean, scanned: Long,
    run: () => Seq[Row], check: Seq[Row] => Option[String])

/** A mailbox read, as the connector's public API takes it. */
final case class Source(path: String, mode: String, options: Map[String, String] = Map.empty)

trait Workload {
  /** Messages in the query corpus, as the generator or fixture knows them. */
  def messages: Long
  /** Files of the query corpus. */
  def files: Seq[File]
  /** Build a fresh corpus (repetition `rep`) and plan one query over it. */
  def setup(rep: Int): Unit
  def ops: Seq[Op]
  /** Per-layer counters of the set-up itself (median over repetitions). */
  def setupCounts: Map[String, Double] = Map.empty
}

/** A workload over one corpus directory, read through the connector. */
abstract class CorpusWorkload(spark: SparkSession, tracer: Tracer, work: File)
    extends Workload {
  protected def corpusDir(rep: Int): File = new File(work, s"corpus-$rep")

  protected def fresh(dir: File): File = {
    Workloads.delete(dir)
    dir.mkdirs()
    dir
  }

  /** Read through the connector; traced, also time its planning calls. */
  protected def read(src: Source): DataFrame = {
    if (tracer.on) {
      if (src.path.endsWith(".pst")) tracer.scanLayer = "pst"
      val opts = MailboxOptions(src.options ++ Map("path" -> src.path, "mode" -> src.mode))
      val conf = spark.sessionState.newHadoopConf()
      val plan = tracer.timed("source.plan")(
        MailboxPlanner.plan(opts, RecordFilter(opts.mode), conf))
      tracer.count("source.partitions", plan.partitions.size)
      tracer.count("source.files", plan.files)
      MailboxPlanner.globFiles(src.path).filter(_.endsWith(".pst")).foreach { f =>
        tracer.timed("pst.open")(PstFile.open(f, conf).close())
        tracer.timed("pst.enumerate")(PstScan.enumerate(f, conf, src.mode == "folders"))
      }
    }
    Mailbox.read(spark, src.path, src.mode, src.options)
  }

  protected def one(df: DataFrame): Seq[Row] = tracer.collect(df).toSeq
}

object Workloads {
  val names: Seq[String] = Seq("indexed", "landing")

  def apply(name: String, spark: SparkSession, tracer: Tracer, work: File,
      fixture: File, truth: Corpus.Truth): Workload = name match {
    case "indexed" => new Both(
      new MailboxWorkload(indexed = true, truth, spark, tracer, new File(work, "mbx")),
      new PstWorkload(fixture, spark, tracer, new File(work, "pst")))
    case "landing" => new MailboxWorkload(indexed = false, truth, spark, tracer, work)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${names.mkString(", ")}")
  }

  /** Two corpora set up together whose ops share one closed loop. */
  final class Both(a: Workload, b: Workload) extends Workload {
    def messages: Long = a.messages + b.messages
    def files: Seq[File] = a.files ++ b.files
    def setup(rep: Int): Unit = { a.setup(rep); b.setup(rep) }
    val ops: Seq[Op] = a.ops ++ b.ops
    override def setupCounts: Map[String, Double] = a.setupCounts ++ b.setupCounts
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  def firstError(checks: Option[String]*): Option[String] = checks.flatten.headOption
}

/** The synthetic mailbox corpus: `files` archives of about `perFile`
  * messages each, every count and generator seed drawn from the
  * workload seed.
  */
object Corpus {
  val files   = 8
  val perFile = 1000

  final case class Spec(name: String, messages: Int, genSeed: Int)

  def specs(seed: Long): Seq[Spec] = {
    val rng = new scala.util.Random(seed)
    (0 until files).map { k =>
      Spec(f"box$k%02d.mbx", perFile - perFile / 10 + rng.nextInt(perFile / 5 + 1),
        rng.nextInt(1 << 16))
    }
  }

  def lines(s: Spec): Seq[String] = MailboxGen.syntheticLines(8, s.messages, s.genSeed)

  /** Write the corpus into `dir` without sidecars; returns the files. */
  def write(dir: File, seed: Long): Seq[File] =
    specs(seed).map { s =>
      val f = new File(dir, s.name)
      MailboxGen.writeFile(f, lines(s), writeIndex = false)
      f
    }

  /** What a correct engine must answer, read straight from the generated
    * JSON lines (no connector code involved).
    */
  final case class Truth(seed: Long, count: Long, sizeSum: Long,
      byClass: Map[String, (Long, Long, Long)], byTopic: Map[String, (Long, Long)],
      maxBody: Long, recipients: Long, contacts: Long, contactChars: Long,
      topDeliveries: Seq[Long],
      firstFourByClass: Map[String, Long], firstFourSize: Long)

  def truth(seed: Long): Truth = {
    val mapper = new ObjectMapper()
    var count, sizeSum, maxBody, recipients, contacts, contactChars = 0L
    val byClass = scala.collection.mutable.Map[String, (Long, Long, Long)]()
    val byTopic = scala.collection.mutable.Map[String, (Long, Long)]()
    val deliveries = scala.collection.mutable.ArrayBuffer[Long]()
    var firstFourSize = 0L
    val firstFourByClass = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    specs(seed).zipWithIndex.foreach { case (s, k) =>
      lines(s).foreach { l =>
        val n = mapper.readTree(l)
        if (n.get("record_type").asText == "message") {
          val cls  = n.get("message_class").asText
          val size = n.get("message_size").asLong
          val dt   = n.get("message_delivery_time").asLong
          val tp   = n.get("conversation_topic").asText
          count += 1
          if (k < 4) {
            firstFourSize += size
            firstFourByClass(cls) += 1
          }
          sizeSum += size
          deliveries += dt
          maxBody = math.max(maxBody, n.get("body").asText.length.toLong)
          recipients += n.get("recipients").size
          val (c, mn, mx) = byClass.getOrElse(cls, (0L, Long.MaxValue, Long.MinValue))
          byClass(cls) = (c + 1, math.min(mn, dt), math.max(mx, dt))
          val (tc, ts) = byTopic.getOrElse(tp, (0L, 0L))
          byTopic(tp) = (tc + 1, ts + size)
          if (cls == "IPM.Contact") {
            contacts += 1
            contactChars += n.get("given_name").asText.length + n.get("surname").asText.length
          }
        }
      }
    }
    Truth(seed, count, sizeSum, byClass.toMap, byTopic.toMap, maxBody, recipients,
      contacts, contactChars, deliveries.sorted.reverse.take(20).toSeq,
      firstFourByClass.toMap, firstFourSize)
  }
}

/** The `.mbx` corpus of `indexed` (sidecars built in set-up) and of
  * `landing` (no sidecars on the query corpus; each pass also lands a
  * fresh 4-file copy through the sidecar build and exports four archives
  * to parquet).
  */
final class MailboxWorkload(indexed: Boolean, truth: Corpus.Truth,
    spark: SparkSession, tracer: Tracer, work: File) extends CorpusWorkload(spark, tracer, work) {
  import Workloads.{expect, firstError}

  private var dir: File = _
  private var corpus: Seq[File] = Nil
  private var landings = 0
  private val indexSeconds = scala.collection.mutable.ArrayBuffer[Double]()
  private var indexBytes = 0L

  def messages: Long = truth.count
  def files: Seq[File] = corpus
  private def glob: String = new File(dir, "*.mbx").getPath
  private def msgs(opts: Map[String, String] = Map.empty): DataFrame =
    read(Source(glob, "messages", opts))

  def setup(rep: Int): Unit = {
    val d = fresh(corpusDir(rep))
    val written = Corpus.write(d, truth.seed)
    if (indexed) {
      val t0 = System.nanoTime()
      MailboxIndex.indexAll(spark, new File(d, "*.mbx").getPath)
      indexSeconds += (System.nanoTime() - t0) / 1e9
      indexBytes = d.listFiles.filter(_.getName.endsWith(".idx")).map(_.length).sum
    }
    if (dir != null) Workloads.delete(dir)
    dir = d
    corpus = written
    msgs().agg(count(lit(1))).collect()
  }

  override def setupCounts: Map[String, Double] =
    if (indexSeconds.isEmpty) Map.empty
    else Map("source.index_build_s" -> Stats.median(indexSeconds.toSeq),
      "source.index_bytes" -> indexBytes.toDouble,
      "source.indexed_bytes" -> corpus.map(_.length).sum.toDouble)

  private val seconds = col("message_delivery_time").cast("long")

  private val readOps: Seq[Op] = Seq(
    Op("count", meta = true, scanned = 0,
      () => one(msgs().agg(count(lit(1)))),
      r => expect("count", r.head.getLong(0), truth.count)),
    Op("class_stats", meta = true, scanned = 0,
      () => one(msgs().groupBy("message_class")
        .agg(count(lit(1)), min(col("message_delivery_time")), max(col("message_delivery_time")))
        .select(col("message_class"), col("count(1)"),
          col("min(message_delivery_time)").cast("long"),
          col("max(message_delivery_time)").cast("long"))
        .orderBy("message_class")),
      r => expect("class stats",
        r.map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap,
        truth.byClass)),
    Op("read_limit", meta = true, scanned = 0,
      () => one(msgs(Map("read_limit" -> "5")).select("node_id", "message_class")),
      r => expect("read_limit rows", r.size, 5)),
    Op("topic_groupby", meta = false, scanned = truth.count,
      () => one(msgs().groupBy("conversation_topic")
        .agg(count(lit(1)), sum("message_size")).orderBy("conversation_topic")),
      r => expect("topic totals",
        r.map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap, truth.byTopic)),
    Op("wide_scan", meta = false, scanned = truth.count,
      () => one(msgs().agg(count(lit(1)), max(length(col("body"))),
        sum(size(col("recipients"))), sum("message_size"))),
      r => expect("wide scan",
        (r.head.getLong(0), r.head.getInt(1).toLong, r.head.getLong(2), r.head.getLong(3)),
        (truth.count, truth.maxBody, truth.recipients, truth.sizeSum))),
    Op("contacts", meta = false, scanned = 0,
      () => one(read(Source(glob, "contacts"))
        .agg(count(lit(1)), sum(length(concat(col("given_name"), col("surname")))))),
      r => expect("contacts", (r.head.getLong(0), r.head.getLong(1)),
        (truth.contacts, truth.contactChars))),
    Op("topk_body", meta = false, scanned = 0,
      () => one(msgs().select("pst_path", "node_id", "message_delivery_time", "body")
        .orderBy(col("message_delivery_time").desc, col("pst_path"), col("node_id"))
        .limit(20).select(col("pst_path"), col("node_id"), seconds, col("body"))),
      r => firstError(
        expect("top-k delivery times", r.map(_.getLong(2)), truth.topDeliveries),
        expect("top-k bodies present", r.count(_.getString(3).nonEmpty), 20)))
  )

  /** Land a fresh copy of four archives, index it with the distributed
    * sidecar build, and count it through the sidecars.
    */
  private val ingest = Op("ingest", meta = false, scanned = 0, () => {
    landings += 1
    val land = fresh(new File(work, s"land/$landings"))
    try tracer.timed("landing.ingest") {
      corpus.take(4).foreach { f =>
        Files.copy(f.toPath, new File(land, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING)
      }
      val landGlob = new File(land, "*.mbx").getPath
      val indexedFiles = tracer.timed("source.index_build")(MailboxIndex.indexAll(spark, landGlob))
      val sidecars = land.listFiles.filter(_.getName.endsWith(".idx"))
      tracer.count("source.index_bytes", sidecars.map(_.length).sum.toDouble)
      tracer.count("source.indexed_bytes", corpus.take(4).map(_.length).sum.toDouble)
      val n = one(read(Source(landGlob, "messages")).agg(count(lit(1)))).head.getLong(0)
      Seq(Row(indexedFiles, n))
    } finally Workloads.delete(land)
  }, r => expect("landed (files, messages)", (r.head.getLong(0), r.head.getLong(1)),
    (4L, truth.firstFourByClass.values.sum)))

  /** Pin four projected archives once, summarise them per class from the
    * pin, write them to parquet and read the parquet back.
    */
  private val export = Op("export", meta = false, scanned = 0, () => {
    landings += 1
    val out = new File(work, s"export/$landings")
    try {
      val four = corpus.take(4).map(_.getName).mkString(new File(dir, "{").getPath, ",", "}")
      val pinned = tracer.span("pin")(read(Source(four, "messages"))
        .select("message_class", "message_size").localCheckpoint())
      val perClass = one(pinned.groupBy("message_class")
        .agg(count(lit(1)), sum("message_size")).orderBy("message_class"))
      tracer.timed("commit.write")(pinned.write.parquet(out.getPath))
      val parts = out.listFiles.filter(_.getName.endsWith(".parquet"))
      tracer.count("commit.files", parts.length)
      tracer.count("commit.bytes", parts.map(_.length).sum.toDouble)
      perClass ++ one(spark.read.parquet(out.getPath).agg(count(lit(1)), sum("message_size")))
    } finally Workloads.delete(out)
  }, r => firstError(
    expect("exported class counts", r.init.map(x => x.getString(0) -> x.getLong(1)).toMap,
      truth.firstFourByClass),
    expect("parquet read-back", (r.last.getLong(0), r.last.getLong(1)),
      (truth.firstFourByClass.values.sum, truth.firstFourSize))))

  val ops: Seq[Op] = if (indexed) readOps else readOps ++ Seq(ingest, export)
}

/** `copies` copies of the committed ANSI PST fixture; its inventory is
  * 16 folders, 12 messages and 2 contacts per file. The seed only
  * permutes the op order: the corpus is the same for every seed.
  */
final class PstWorkload(fixture: File, spark: SparkSession, tracer: Tracer,
    work: File) extends CorpusWorkload(spark, tracer, work) {
  import Workloads.expect

  val copies = 16
  private var dir: File = _
  private var corpus: Seq[File] = Nil

  def messages: Long = 12L * copies
  def files: Seq[File] = corpus
  private def glob: String = new File(dir, "*.pst").getPath

  def setup(rep: Int): Unit = {
    val d = fresh(corpusDir(rep))
    val written = (0 until copies).map { k =>
      val f = new File(d, f"archive$k%03d.pst")
      Files.copy(fixture.toPath, f.toPath)
      f
    }
    if (dir != null) Workloads.delete(dir)
    dir = d
    corpus = written
    Mailbox.messages(spark, glob).agg(count(lit(1))).collect()
  }

  val ops: Seq[Op] = Seq(
    Op("pst_count", meta = true, scanned = 0,
      () => one(read(Source(glob, "messages")).agg(count(lit(1)))),
      r => expect("messages", r.head.getLong(0), 12L * copies)),
    Op("pst_folders", meta = true, scanned = 0,
      () => one(read(Source(glob, "folders")).agg(count(lit(1)))),
      r => expect("folders", r.head.getLong(0), 16L * copies)),
    Op("pst_wide_scan", meta = false, scanned = messages,
      () => one(read(Source(glob, "messages")).agg(count(lit(1)),
        sum(length(coalesce(col("body"), lit("")))), sum(size(col("recipients"))))),
      r => Workloads.firstError(
        expect("scanned messages", r.head.getLong(0), 12L * copies),
        expect("body chars divisible by copies", r.head.getLong(1) % copies, 0L))),
    Op("pst_contacts", meta = false, scanned = 0,
      () => one(read(Source(glob, "contacts"))
        .agg(count(lit(1)), sum(length(concat(col("given_name"), col("surname")))))),
      r => expect("contacts", r.head.getLong(0), 2L * copies))
  )
}
