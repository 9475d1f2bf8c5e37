package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.Dischema
import graft.pipeline.Pipeline
import graft.similarity.Similarity
import graft.text.Dedup

/** What one operation left behind: its input size, and a check to run once
  * the timed window is over. The check returns one line per failed
  * sub-operation (`operations` of them were attempted).
  */
final case class OpResult(records: Long, operations: Int, check: () => Seq[String],
                          inputBytes: Long = 0L, stageBytes: () => Long = () => 0L)

/** A named workload: seeded inputs and one repeatable
  * operation that the closed loop in [[Main]] drives with `clients` threads.
  */
trait Workload {
  def clients: Int
  /** Operations the closed loop runs before its window opens. */
  def rampOps: Int
  /** Operations measured in a window of `seconds`: as many as fit at the
    * workload's nominal rate on a 4-core box, fixed for a given `seconds`,
    * so the measured set does not change with the host's speed.
    */
  def measuredOps(seconds: Double): Int
  def generate(dir: String, seed: Long): Unit
  def prepare(spark: SparkSession, tracer: Tracer, inputDir: String, workDir: String): Unit
  def op(i: Int): OpResult
  /** Layer spans to add after the window (the pipeline's service spans). */
  def synthesizeSpans(): Unit = ()
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "submission_queue" => new QueueWorkload
    case "corpus_dedup"     => new CorpusWorkload
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Submissions in the queue's backlog. */
  val QueueBacklog = 120
  val CorpusDocs = 2000
  val CorpusVectors = 1000
  /** PPJoin's broadcast-kernel gate, in rows (engine default 100000). A
    * corpus above the default gate does not fit the per-run time budget on
    * a 4-core box, so the gate is lowered through the engine's own
    * `graft.ppjoin.broadcastRows` setting: the corpus runs the distributed
    * prefix-filter path all the same.
    */
  val PpjoinGateRows = 1000L
  val JaccardThreshold = 0.5
  val CosineThreshold = 0.9
  /** MinHash / LSH are probabilistic: their output must be a subset of the
    * planted pairs with at least this recall (the floors of
    * `SparkEntry.oracleCompare`).
    */
  val MinHashRecallFloor = 0.999
  val NearDupRecallFloor = 0.9
}

/** submission_queue: a backlog of small CSV / JSON / XML submissions drained
  * by a closed loop of workers sharing one audit directory.
  */
final class QueueWorkload extends Workload {
  /** Half the cores. On 4 cores, 4 workers drained the backlog only ~10%
    * faster than 2 and left no core to the rest of the JVM.
    */
  val clients: Int = math.max(1, BenchSession.cores / 2)
  /** Two submissions per worker: the first runs cold. */
  val rampOps: Int = 2 * clients
  /** A submission takes about 5 s with 2 workers on 4 cores. */
  def measuredOps(seconds: Double): Int = clients * math.max(1, math.round(seconds / 5.0).toInt)
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var inputDir: String = _
  private var workDir: String = _
  private var subs: IndexedSeq[JsonNode] = _
  private val runSpans = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  def generate(dir: String, seed: Long): Unit =
    Gen.queue(dir, seed, Workloads.QueueBacklog)

  def prepare(spark: SparkSession, tracer: Tracer, inputDir: String, workDir: String): Unit = {
    this.spark = spark; this.tracer = tracer; this.inputDir = inputDir; this.workDir = workDir
    subs = Gen.readTruth(inputDir).get("submissions").elements().asScala.toIndexedSeq
  }

  private def auditDir = s"$workDir/audit"

  /** Parse the dischema and run one submission; exceptions are returned. */
  private def submit(t: JsonNode, sid: String): Either[Throwable, Pipeline.PipelineResult] = {
    val name = t.get("dischema").asText
    val parsed = tracer.span("config.parse")(
      Dischema.parseString(Gen.Dischemas(name), _ => Gen.RuleStore))
    val cfg = Pipeline.SubmissionConfig(
      submissionId = sid,
      dataFile = t.get("file").asText,
      dischema = parsed,
      workingDir = s"$workDir/runs/$sid",
      refdataBaseDir = inputDir,
      auditDir = Some(auditDir))
    try Right(tracer.span("pipeline.run") {
      if (tracer.enabled) runSpans.put(sid, tracer.current)
      Pipeline.run(spark, cfg)
    })
    catch { case e: Throwable => Left(e) }
  }

  def op(i: Int): OpResult = {
    val t = subs(i % subs.size)
    val sid = s"${t.get("submission_id").asText}-r$i"
    val res = submit(t, sid)
    val wd = s"$workDir/runs/$sid"
    val ok = t.get("expected_status").asText == "finished"
    OpResult(
      records = if (ok) t.get("records").asLong else 0L,
      operations = 1,
      check = () => try Checks.joined(Checks.submission(spark, t, sid, res, wd, auditTables))
                    finally Gen.deleteRecursively(Paths.get(wd)),
      inputBytes = t.get("input_bytes").asLong,
      stageBytes = () => Checks.dirBytes(wd))
  }

  /** The audit tables, read once after the window for every check. */
  private lazy val auditTables: Checks.Audit = Checks.readAudit(spark, auditDir)

  /** Service spans of each traced submission, bounded by the millisecond
    * `processing_status` timestamps its run wrote to the audit table.
    */
  override def synthesizeSpans(): Unit = {
    val byStatus = auditTables.statusTimes
    runSpans.asScala.foreach { case (sid, runSpan) =>
      val ts = byStatus.getOrElse(sid, Map.empty)
      val run = tracer.allSpans.find(_.id == runSpan)
      for (r <- run) {
        val bounds = Seq("file_transformation" -> "transform", "data_contract" -> "contract",
          "business_rules" -> "rules", "error_report" -> "report")
        val order = bounds.map(_._1) :+ "finished"
        bounds.zipWithIndex.foreach { case ((status, layer), k) =>
          for (s <- ts.get(status)) {
            val e = order.drop(k + 1).flatMap(ts.get).headOption.getOrElse(r.endNs)
            tracer.record(layer, runSpan, s, math.min(e, r.endNs))
          }
        }
      }
    }
  }
}

/** corpus_dedup: exactDedup -> minHashDedup -> prefixFilterJoin ->
  * nearDupKeepBest -> cosineNearDupPairsAuto over a corpus above the PPJoin
  * kernel gate. Each call is one operation: built, planned, then consumed
  * in full by one action.
  */
final class CorpusWorkload extends Workload {
  val clients = 1
  /** One pass: it runs cold; the next is as fast as later ones. */
  val rampOps = 1
  /** A chain pass takes about 8.5 s on 4 cores. */
  def measuredOps(seconds: Double): Int = math.max(1, math.round(seconds / 8.5).toInt)
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var truth: JsonNode = _
  private var docs: DataFrame = _
  private var vecs: DataFrame = _

  def generate(dir: String, seed: Long): Unit =
    Gen.corpus(dir, seed, Workloads.CorpusDocs, Workloads.CorpusVectors,
      Workloads.JaccardThreshold, Workloads.CosineThreshold)

  def prepare(spark: SparkSession, tracer: Tracer, inputDir: String, workDir: String): Unit = {
    this.spark = spark; this.tracer = tracer
    sys.props("graft.ppjoin.broadcastRows") = Workloads.PpjoinGateRows.toString
    truth = Gen.readTruth(inputDir)
    docs = readDocs(s"$inputDir/docs.csv")
    vecs = readVecs(s"$inputDir/vecs.jsonl")
  }

  private def readDocs(path: String): DataFrame =
    spark.read.schema("doc_id BIGINT, text STRING, score DOUBLE").csv(path)
  private def readVecs(path: String): DataFrame =
    spark.read.schema("vec_id BIGINT, embedding ARRAY<FLOAT>").json(path)

  /** Order-independent hash over every column, so no column is pruned from
    * the work being timed.
    */
  private def rowHash(df: DataFrame): org.apache.spark.sql.Column =
    sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)"))

  /** One public call: construct (the call itself, including its eager
    * jobs), plan the consuming action, execute it.
    */
  private def call(layer: String)(build: => DataFrame)(consume: DataFrame => DataFrame): Array[Row] =
    tracer.span(layer) {
      val df = tracer.span("query.construct")(build)
      val act = consume(df)
      tracer.span("query.plan")(act.queryExecution.executedPlan)
      val rows = tracer.span("query.exec")(act.collect())
      spark.catalog.clearCache()
      rows
    }

  /** The chain once; returns each call's check. */
  private def pass(docs: DataFrame, vecs: DataFrame): Seq[() => Seq[String]] = {
    val exact = call("text.exact_dedup")(Dedup.exactDedup(docs, "doc_id", "text")) { df =>
      df.agg(count(lit(1)), rowHash(df),
        collect_list(when(col("dup_count") > 1, struct(col("keep_id"), col("dup_count")))))
    }
    val minhash = call("text.minhash")(Dedup.minHashDedup(docs, "doc_id", "text",
      threshold = Workloads.JaccardThreshold))(identity)
    val ppjoin = call("text.ppjoin")(Dedup.prefixFilterJoin(docs, "doc_id", "text",
      threshold = Workloads.JaccardThreshold))(identity)
    val keep = call("text.keep_best")(Dedup.nearDupKeepBest(docs, "doc_id", "text", col("score"),
      threshold = Workloads.JaccardThreshold)) { df =>
      df.agg(count(lit(1)), rowHash(df), collect_list(when(!col("keep"), col("doc_id"))))
    }
    val near = call("similarity.neardup")(Similarity.cosineNearDupPairsAuto(vecs, "vec_id",
      "embedding", Workloads.CosineThreshold))(identity)
    Seq(
      () => Checks.exactDedup(truth, exact),
      () => Checks.pairs("minhash", truth.get("near_dup_pairs"), minhash,
        Some(Workloads.MinHashRecallFloor)),
      () => Checks.pairs("ppjoin", truth.get("near_dup_pairs"), ppjoin, None),
      () => Checks.keepBest(truth, keep),
      () => Checks.pairs("neardup", truth.get("vector_pairs"), near,
        Some(Workloads.NearDupRecallFloor)))
  }

  def op(i: Int): OpResult = {
    val checks = pass(docs, vecs)
    OpResult(records = truth.get("docs").asLong, operations = checks.size,
      check = () => checks.flatMap(c => Checks.joined(c())))
  }
}

/** Output checks against the planted truth. Each returns the mismatches. */
object Checks {
  /** One failed operation per non-empty mismatch list. */
  def joined(bad: Seq[String]): Seq[String] = if (bad.isEmpty) Nil else Seq(bad.mkString("; "))

  final case class Audit(statusTimes: Map[String, Map[String, Long]],
                         latest: Map[String, (String, String)],
                         statistics: Map[String, Row])

  /** processing_status (every status's first timestamp, epoch ns, and the
    * latest status + result) and submission_statistics, keyed by submission.
    */
  def readAudit(spark: SparkSession, auditDir: String): Audit = {
    val ps = spark.read.parquet(s"$auditDir/processing_status")
      .select(col("submission_id"), col("processing_status"), col("submission_result"),
        unix_micros(col("updated_at")).as("us"), col("audit_seq"))
      .collect()
    val times = ps.groupBy(_.getString(0)).map { case (sid, rows) =>
      sid -> rows.groupBy(_.getString(1)).map { case (st, rs) => st -> rs.map(_.getLong(3)).min * 1000L }
    }
    val latest = ps.groupBy(_.getString(0)).map { case (sid, rows) =>
      val r = rows.maxBy(x => (x.getLong(3), x.getLong(4)))
      sid -> (r.getString(1), Option(r.getString(2)).getOrElse(""))
    }
    val statsPath = s"$auditDir/submission_statistics"
    val stats =
      if (!Files.exists(Paths.get(statsPath))) Map.empty[String, Row]
      else spark.read.parquet(statsPath)
        .select("submission_id", "record_count", "number_submission_rejections",
          "number_record_rejections", "number_warnings").collect()
        .map(r => r.getString(0) -> r).toMap
    Audit(times, latest, stats)
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
        .map(Files.size).sum
      finally s.close()
    }
  }

  def submission(spark: SparkSession, t: JsonNode, sid: String,
                 res: Either[Throwable, Pipeline.PipelineResult], wd: String,
                 audit: Audit): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) bad += s"$sid: $what = $got, expected $want"
    val (status, result) = audit.latest.getOrElse(sid, ("<none>", ""))
    expect("audit status", status, t.get("expected_status").asText)
    expect("audit result", result, t.get("expected_result").asText)
    if (t.get("expected_status").asText == "failed") {
      res match {
        case Left(e) =>
          val msg = Option(e.getMessage).getOrElse("")
          if (!msg.contains(t.get("failure_cause").asText))
            bad += s"$sid: failed with '$msg', expected cause '${t.get("failure_cause").asText}'"
        case Right(_) => bad += s"$sid: succeeded, expected a planted failure"
      }
      return bad.toSeq
    }
    res match {
      case Left(e) => return Seq(s"$sid: unexpected failure ${e.getClass.getName}: ${e.getMessage}")
      case Right(r) =>
        val entity = t.get("dischema").asText
        expect("final status", r.finalStatus, "finished")
        expect(s"$entity rows after rules", r.recordCounts.getOrElse(entity, -1L),
          t.get("final_count").asLong)
    }
    // error report aggregate: counts per (table, error code)
    val agg = spark.read.parquet(s"$wd/error_reports/aggregate")
      .groupBy(concat_ws("|", col("Table"), col("Error_Code"))).agg(sum("Count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = t.get("error_counts").properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    expect("error counts", agg, want)
    // contract-rejected record indexes
    val rejected = graft.report.ErrorSink.readFeedbackErrors(spark, wd, "data_contract")
      .where(col("FailureType") === "record" && col("Status") =!= "informational")
      .select(col("RecordIndex").cast("long")).distinct().collect().map(_.getLong(0)).toSeq.sorted
    val wantRejected = t.get("rejected_indexes").elements().asScala.map(_.asLong).toSeq
    if (rejected != wantRejected)
      bad += s"$sid: rejected indexes differ (${rejected.size} found, ${wantRejected.size} planted)"
    // audit statistics
    audit.statistics.get(sid) match {
      case None => bad += s"$sid: no submission_statistics row"
      case Some(row) =>
        val st = t.get("statistics")
        expect("record_count", row.getLong(1), st.get("record_count").asLong)
        expect("submission_rejections", row.getLong(2), st.get("submission_rejections").asLong)
        expect("record_rejections", row.getLong(3), st.get("record_rejections").asLong)
        expect("warnings", row.getLong(4), st.get("warnings").asLong)
    }
    // rule-derived entity
    Option(t.get("derived")).foreach { d =>
      val os = spark.read.parquet(s"$wd/business_rules/org_summary")
        .agg(count(lit(1)), sum("n_episodes")).head()
      expect("org_summary rows", os.getLong(0), d.get("org_summary").get("rows").asLong)
      expect("org_summary n_episodes", os.getLong(1), d.get("org_summary").get("n_episodes_sum").asLong)
    }
    bad.toSeq
  }

  private def truthPairs(node: JsonNode): Set[(Long, Long)] =
    node.elements().asScala.map(p => (p.get(0).asLong, p.get(1).asLong)).toSet

  /** Pair outputs: exact equality, or (recall floor given) a subset of the
    * planted pairs reaching the floor.
    */
  def pairs(name: String, truthNode: JsonNode, rows: Array[Row], recallFloor: Option[Double]): Seq[String] = {
    val want = truthPairs(truthNode)
    val got = rows.map { r =>
      val a = r.getAs[Number](0).longValue; val b = r.getAs[Number](1).longValue
      (math.min(a, b), math.max(a, b))
    }.toSet
    if (got.size != rows.length) return Seq(s"$name: ${rows.length - got.size} duplicate pairs")
    recallFloor match {
      case None =>
        if (got == want) Nil
        else Seq(s"$name: ${(got -- want).size} unplanted and ${(want -- got).size} missing pairs")
      case Some(floor) =>
        val extra = got -- want
        val recall = if (want.isEmpty) 1.0 else (got & want).size.toDouble / want.size
        (if (extra.nonEmpty) Seq(s"$name: ${extra.size} unplanted pairs") else Nil) ++
          (if (recall < floor) Seq(f"$name: recall $recall%.4f below $floor") else Nil)
    }
  }

  def exactDedup(truth: JsonNode, rows: Array[Row]): Seq[String] = {
    val r = rows.head
    val groups = r.getSeq[Row](2).filter(_ != null).map(g => (g.getLong(0), g.getLong(1))).toSet
    val want = truth.get("exact_dup_groups").elements().asScala
      .map(p => (p.get(0).asLong, p.get(1).asLong)).toSet
    (if (r.getLong(0) != truth.get("distinct_texts").asLong)
      Seq(s"exact_dedup: ${r.getLong(0)} groups, expected ${truth.get("distinct_texts").asLong}") else Nil) ++
      (if (groups != want) Seq(s"exact_dedup: duplicate groups differ (${groups.size} vs ${want.size})") else Nil)
  }

  def keepBest(truth: JsonNode, rows: Array[Row]): Seq[String] = {
    val r = rows.head
    val dropped = r.getSeq[Any](2).filter(_ != null).map(_.asInstanceOf[Number].longValue).toSet
    val want = truth.get("keep_best_dropped").elements().asScala.map(_.asLong).toSet
    (if (r.getLong(0) != truth.get("docs").asLong)
      Seq(s"keep_best: ${r.getLong(0)} rows, expected ${truth.get("docs").asLong}") else Nil) ++
      (if (dropped != want)
        Seq(s"keep_best: ${(dropped -- want).size} wrongly dropped, ${(want -- dropped).size} wrongly kept")
      else Nil)
  }
}
