package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Seeded input generator. Every generated input is written beside a
  * `truth.json` holding what the engine must find in it: planted error codes
  * and counts, rejected record indexes, each submission's expected final
  * status and statistics, and the planted duplicate / near-duplicate pairs.
  * The engine only ever sees the data files and the dischema.
  */
object Gen {
  val mapper = new ObjectMapper()

  // ------------------------------------------------------------ dischemas

  /** Rule store shared by the CSV dischema: a templated upper-bound filter. */
  val RuleStore: String =
    """{
      | "field_at_most": {
      |  "type": "filter",
      |  "rule_config": {
      |   "entity": "{{entity}}",
      |   "name": "max_{{field}}",
      |   "expression": "{{field}} IS NOT NULL AND {{field}} <= {{limit}}",
      |   "failure_message": "{{field}} above {{limit}}",
      |   "error_code": "{{error_code|default(('high_' + field).upper())}}",
      |   "reporting_field": "{{field}}"
      |  }
      | }
      |}""".stripMargin

  private val orgRefdata =
    """"reference_data": {"orgs": {"type": "filename", "filename": "orgs.csv"}}"""

  /** The queue's CSV lane: 14 fields of the NHS domain types, refdata
    * left_join, a group_by into a derived entity, five filters (one from
    * the rule store).
    */
  val EpisodeDischema: String =
    s"""{
      | "contract": {
      |  "types": {
      |   "Sex": {"callable": "constr", "constraints": {"regex": "^[MFU]$$"}},
      |   "Priority": {"callable": "constr", "constraints": {"regex": "^(routine|urgent|emergency)$$"}}
      |  },
      |  "datasets": {
      |   "episode": {
      |    "fields": {
      |     "episode_id": "int",
      |     "nhs_number": {"callable": "nhsnumber"},
      |     "postcode": {"callable": "postcode"},
      |     "org_code": {"callable": "orgid"},
      |     "birth_date": {"callable": "conformatteddate", "constraints": {"date_format": "%Y-%m-%d"}},
      |     "admitted_at": {"callable": "formatteddatetime", "constraints": {"format": "%Y-%m-%d %H:%M:%S"}},
      |     "period_start": {"callable": "reportingperiodstart"},
      |     "amount": {"callable": "condecimal", "constraints": {"max_digits": 10, "decimal_places": 2}},
      |     "los_days": "int",
      |     "age": "int",
      |     "sex": {"type": "Sex"},
      |     "clinic_code": {"callable": "constr", "constraints": {"max_length": 8, "regex": "^[A-Z0-9]+$$"}},
      |     "weight_kg": "float",
      |     "priority": {"type": "Priority"}
      |    },
      |    "key_field": "episode_id",
      |    "mandatory_fields": ["episode_id", "nhs_number", "org_code"],
      |    "reader_config": {".csv": {"reader": "SparkCSVReader", "kwargs": {"field_check": "true"}}}
      |   }
      |  }
      | },
      | "transformations": {
      |  $orgRefdata,
      |  "rule_stores": [{"store_type": "json", "filename": "store.json"}],
      |  "rules": [
      |   {"operation": "left_join", "entity": "episode", "target": "refdata_orgs",
      |    "join_condition": "episode.org_code = refdata_orgs.org_code",
      |    "new_columns": {"refdata_orgs.org_name": "org_name", "refdata_orgs.region": "region"}},
      |   {"operation": "group_by", "entity": "episode", "group_by": {"org_code": "org_code"},
      |    "agg_columns": {"count(1)": "n_episodes", "sum(los_days)": "los_total"},
      |    "new_entity_name": "org_summary"}
      |  ],
      |  "filters": [
      |   {"entity": "episode", "name": "amount_cap", "expression": "amount <= 5000",
      |    "error_code": "AMT_HIGH", "failure_message": "amount above cap", "reporting_field": "amount"},
      |   {"entity": "episode", "name": "los_nonneg", "expression": "los_days >= 0",
      |    "error_code": "LOS_NEG", "failure_message": "negative length of stay", "reporting_field": "los_days"},
      |   {"entity": "episode", "name": "age_cap", "expression": "age <= 110",
      |    "error_code": "AGE_HIGH", "failure_message": "age above 110", "reporting_field": "age"},
      |   {"entity": "episode", "name": "org_known", "expression": "org_name IS NOT NULL",
      |    "error_code": "ORG_UNKNOWN", "failure_message": "organisation not in refdata", "reporting_field": "org_code"},
      |   {"rule_name": "field_at_most",
      |    "parameters": {"entity": "episode", "field": "weight_kg", "limit": "300"}}
      |  ]
      | }
      |}""".stripMargin

  /** Queue JSON lane: a nested array-of-struct field. */
  val ReferralDischema: String =
    s"""{
      | "contract": {
      |  "schemas": {
      |   "procedure": {
      |    "fields": {
      |     "code": {"callable": "constr", "constraints": {"regex": "^[A-Z][0-9]{3}$$"}},
      |     "performed_on": {"callable": "conformatteddate", "constraints": {"date_format": "%Y-%m-%d"}}
      |    }
      |   }
      |  },
      |  "datasets": {
      |   "referral": {
      |    "fields": {
      |     "referral_id": "int",
      |     "nhs_number": {"callable": "nhsnumber"},
      |     "org_code": {"callable": "orgid"},
      |     "referred_on": {"callable": "conformatteddate", "constraints": {"date_format": "%Y-%m-%d"}},
      |     "priority": {"callable": "constr", "constraints": {"regex": "^(routine|urgent)$$"}},
      |     "procedures": {"model": "procedure", "is_array": true}
      |    },
      |    "key_field": "referral_id",
      |    "mandatory_fields": ["referral_id", "nhs_number"],
      |    "reader_config": {".jsonl": {"reader": "SparkJSONReader"}}
      |   }
      |  }
      | },
      | "transformations": {
      |  $orgRefdata,
      |  "rules": [
      |   {"operation": "left_join", "entity": "referral", "target": "refdata_orgs",
      |    "join_condition": "referral.org_code = refdata_orgs.org_code",
      |    "new_columns": {"refdata_orgs.org_name": "org_name"}}
      |  ],
      |  "filters": [
      |   {"entity": "referral", "name": "proc_cap", "expression": "size(procedures) <= 4",
      |    "error_code": "PROC_MANY", "failure_message": "too many procedures", "reporting_field": "procedures"},
      |   {"entity": "referral", "name": "org_known", "expression": "org_name IS NOT NULL",
      |    "error_code": "ORG_UNKNOWN", "failure_message": "organisation not in refdata", "reporting_field": "org_code"}
      |  ]
      | }
      |}""".stripMargin

  /** Queue XML lane. */
  val AppointmentDischema: String =
    """{
      | "contract": {
      |  "datasets": {
      |   "appointment": {
      |    "fields": {
      |     "appt_id": "int",
      |     "nhs_number": {"callable": "nhsnumber"},
      |     "clinic_code": {"callable": "constr", "constraints": {"max_length": 8}},
      |     "appt_date": {"callable": "conformatteddate", "constraints": {"date_format": "%Y-%m-%d"}},
      |     "duration_min": "int"
      |    },
      |    "key_field": "appt_id",
      |    "mandatory_fields": ["appt_id", "nhs_number"],
      |    "reader_config": {".xml": {"reader": "SparkXMLReader", "kwargs": {"record_tag": "appointment"}}}
      |   }
      |  }
      | },
      | "transformations": {
      |  "filters": [
      |   {"entity": "appointment", "name": "duration_cap", "expression": "duration_min <= 240",
      |    "error_code": "LONG_APPT", "failure_message": "appointment too long", "reporting_field": "duration_min"}
      |  ]
      | }
      |}""".stripMargin

  val Dischemas: Map[String, String] = Map(
    "episode" -> EpisodeDischema, "referral" -> ReferralDischema,
    "appointment" -> AppointmentDischema)

  // ------------------------------------------------------------ value helpers

  private final class Values(rng: Random, nOrgs: Int) {
    val orgs: IndexedSeq[String] = (0 until nOrgs).map(i => f"R${i % 1000}%03d${('A' + i / 1000).toChar}")
    /** Valid orgid format, never in the refdata table. */
    val unknownOrgs: IndexedSeq[String] = (0 until 50).map(i => f"Z${i}%03d")

    def nhs(): String = {
      var out: String = null
      while (out == null) {
        val d = Array.fill(9)(rng.nextInt(10))
        d(0) = 4 + rng.nextInt(5) // never a '9' test prefix
        val total = (0 until 9).map(i => d(i) * (10 - i)).sum
        val check = 11 - (total % 11) match { case 11 => 0; case c => c }
        val s = d.mkString + check
        if (check != 10 && s != s.reverse) out = s
      }
      out
    }
    /** A well-formed NHS number whose check digit is wrong. */
    def badNhs(): String = {
      val s = nhs()
      s.substring(0, 9) + ((s(9) - '0' + 1 + rng.nextInt(8)) % 10)
    }
    def postcode(): String = {
      val a = ('A' + rng.nextInt(26)).toChar
      val b = ('A' + rng.nextInt(26)).toChar
      s"$a$b${1 + rng.nextInt(9)} ${rng.nextInt(10)}${('A' + rng.nextInt(26)).toChar}${('A' + rng.nextInt(26)).toChar}"
    }
    def date(fromYear: Int, years: Int): String =
      f"${fromYear + rng.nextInt(years)}%04d-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d"
    def clinic(): String = (0 until 3 + rng.nextInt(4)).map(_ =>
      if (rng.nextBoolean()) ('A' + rng.nextInt(26)).toChar else ('0' + rng.nextInt(10)).toChar).mkString
    def org(): String = orgs(rng.nextInt(orgs.size))
  }

  private def writer(path: String): BufferedWriter = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.newBufferedWriter(Paths.get(path), StandardCharsets.UTF_8)
  }

  private def writeJson(path: String, node: ObjectNode): Unit =
    Files.writeString(Paths.get(path), mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node))

  /** Expected outcome of one submission, accumulated while its rows are
    * generated. Error counts are keyed `table|error_code`.
    */
  final class SubmissionTruth(val id: String, val dischema: String, val file: String) {
    var records = 0L
    val errors = mutable.TreeMap.empty[String, Long]
    val rejected = mutable.ArrayBuffer.empty[Long]
    var ruleFailed = 0L
    var malformed = false
    val orgCounts = mutable.HashMap.empty[String, Long]
    def error(table: String, code: String): Unit = errors(s"$table|$code") = errors.getOrElse(s"$table|$code", 0L) + 1

    def toJson: ObjectNode = {
      val n = mapper.createObjectNode()
      n.put("submission_id", id).put("dischema", dischema).put("file", file)
      n.put("records", records).put("input_bytes", new File(file).length())
      if (malformed) {
        n.put("expected_status", "failed").put("expected_result", "processing_error")
        n.put("failure_cause", "missing declared fields")
      } else {
        n.put("expected_status", "finished")
        n.put("expected_result", if (rejected.nonEmpty) "validation_failed" else "success")
        val e = n.putObject("error_counts")
        errors.foreach { case (k, v) => e.put(k, v) }
        val r = n.putArray("rejected_indexes")
        rejected.foreach(r.add(_))
        n.put("final_count", records - rejected.size - ruleFailed)
        val st = n.putObject("statistics")
        st.put("record_count", records).put("submission_rejections", 0L)
          .put("record_rejections", errors.values.sum).put("warnings", 0L)
        if (dischema == "episode") {
          val d = n.putObject("derived").putObject("org_summary")
          d.put("rows", orgCounts.size.toLong).put("n_episodes_sum", records)
        }
      }
      n
    }
  }

  // ------------------------------------------------------------ pipeline inputs

  /** One episode CSV. ~2% of rows carry one contract defect, ~5% fail
    * exactly one business-rule filter; the two sets are disjoint and a
    * defect never touches a field a filter reads.
    */
  def episodeCsv(path: String, id: String, n: Int, rng: Random, v: Values,
                 malformed: Boolean): SubmissionTruth = {
    val t = new SubmissionTruth(id, "episode", path)
    t.malformed = malformed
    val w = writer(path)
    try {
      w.write(if (malformed) "episode_id,nhs_number,post_code,org_code,birth_date,admitted_at,period_start,amount,los_days,age,sex,clinic_code,weight_kg,priority\n"
              else "episode_id,nhs_number,postcode,org_code,birth_date,admitted_at,period_start,amount,los_days,age,sex,clinic_code,weight_kg,priority\n")
      val sb = new java.lang.StringBuilder(256)
      var i = 1
      while (i <= n) {
        var nhs = v.nhs(); var postcode = v.postcode(); var org = v.org()
        var birth = v.date(1930, 90)
        val admitted = f"${v.date(2023, 2)} ${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:${rng.nextInt(60)}%02d"
        val period = f"${2023 + rng.nextInt(2)}-${1 + rng.nextInt(12)}%02d-01"
        var amount = f"${rng.nextInt(500000) / 100.0}%.2f"
        var los = rng.nextInt(60).toString
        var age = rng.nextInt(100).toString
        var sex = "MFU".charAt(rng.nextInt(3)).toString
        var clinic = v.clinic()
        var weight = f"${30 + rng.nextInt(2000) / 10.0}%.1f"
        val priority = Seq("routine", "urgent", "emergency")(rng.nextInt(3))
        val u = rng.nextDouble()
        if (u < 0.02) { // contract defect: one per row
          t.rejected += i
          rng.nextInt(6) match {
            case 0 => nhs = v.badNhs(); t.error("episode", "BadValue")
            case 1 => nhs = ""; t.error("episode", "FieldBlank")
            case 2 => postcode = "12345"; t.error("episode", "BadValue")
            case 3 => birth = birth.split('-').reverse.mkString("/"); t.error("episode", "BadValue")
            case 4 => clinic = "CLINIC12345"; t.error("episode", "BadValue")
            case _ => sex = "X"; t.error("episode", "BadValue")
          }
        } else if (u < 0.07) { // business-rule failure: one filter per row
          t.ruleFailed += 1
          rng.nextInt(5) match {
            case 0 => amount = f"${5000.01 + rng.nextInt(100000) / 100.0}%.2f"; t.error("episode", "AMT_HIGH")
            case 1 => los = (-1 - rng.nextInt(30)).toString; t.error("episode", "LOS_NEG")
            case 2 => age = (111 + rng.nextInt(20)).toString; t.error("episode", "AGE_HIGH")
            case 3 => org = v.unknownOrgs(rng.nextInt(v.unknownOrgs.size)); t.error("episode", "ORG_UNKNOWN")
            case _ => weight = f"${300.1 + rng.nextInt(1000) / 10.0}%.1f"; t.error("episode", "HIGH_WEIGHT_KG")
          }
        }
        t.orgCounts(org) = t.orgCounts.getOrElse(org, 0L) + 1
        sb.setLength(0)
        sb.append(i).append(',').append(nhs).append(',').append(postcode).append(',')
          .append(org).append(',').append(birth).append(',').append(admitted).append(',')
          .append(period).append(',').append(amount).append(',').append(los).append(',')
          .append(age).append(',').append(sex).append(',').append(clinic).append(',')
          .append(weight).append(',').append(priority).append('\n')
        w.write(sb.toString)
        i += 1
      }
    } finally w.close()
    t.records = n
    t
  }

  /** One referral JSON-lines file with a nested procedures array. */
  def referralJsonl(path: String, id: String, n: Int, rng: Random, v: Values): SubmissionTruth = {
    val t = new SubmissionTruth(id, "referral", path)
    val w = writer(path)
    try {
      var i = 1
      while (i <= n) {
        var nhs = v.nhs(); var org = v.org()
        var nProc = 1 + rng.nextInt(4)
        val procs = Array.fill(nProc)(
          (f"${('A' + rng.nextInt(26)).toChar}${rng.nextInt(1000)}%03d", v.date(2022, 3)))
        var procList = procs.toSeq
        val u = rng.nextDouble()
        if (u < 0.02) {
          t.rejected += i
          rng.nextInt(2) match {
            case 0 => nhs = v.badNhs(); t.error("referral", "BadValue")
            case _ =>
              val k = rng.nextInt(procList.size)
              procList = procList.updated(k, ("bad" + k, procList(k)._2)); t.error("referral", "BadValue")
          }
        } else if (u < 0.07) {
          t.ruleFailed += 1
          rng.nextInt(2) match {
            case 0 =>
              procList = procList ++ Seq.fill(5 - procList.size)(("B100", v.date(2022, 3)))
              t.error("referral", "PROC_MANY")
            case _ => org = v.unknownOrgs(rng.nextInt(v.unknownOrgs.size)); t.error("referral", "ORG_UNKNOWN")
          }
        }
        val ps = procList.map { case (c, d) => s"""{"code":"$c","performed_on":"$d"}""" }.mkString("[", ",", "]")
        w.write(s"""{"referral_id":$i,"nhs_number":"$nhs","org_code":"$org","referred_on":"${v.date(2022, 3)}","priority":"${if (rng.nextBoolean()) "routine" else "urgent"}","procedures":$ps}""")
        w.write('\n')
        i += 1
      }
    } finally w.close()
    t.records = n
    t
  }

  /** One appointment XML file. */
  def appointmentXml(path: String, id: String, n: Int, rng: Random, v: Values): SubmissionTruth = {
    val t = new SubmissionTruth(id, "appointment", path)
    val w = writer(path)
    try {
      w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<appointments>\n")
      var i = 1
      while (i <= n) {
        var nhs = v.nhs(); var date = v.date(2023, 2)
        var duration = (5 + rng.nextInt(120)).toString
        val u = rng.nextDouble()
        if (u < 0.02) {
          t.rejected += i
          rng.nextInt(2) match {
            case 0 => nhs = v.badNhs(); t.error("appointment", "BadValue")
            case _ => date = date.split('-').reverse.mkString("/"); t.error("appointment", "BadValue")
          }
        } else if (u < 0.07) {
          t.ruleFailed += 1
          duration = (241 + rng.nextInt(200)).toString; t.error("appointment", "LONG_APPT")
        }
        w.write(s"<appointment><appt_id>$i</appt_id><nhs_number>$nhs</nhs_number><clinic_code>${v.clinic()}</clinic_code><appt_date>$date</appt_date><duration_min>$duration</duration_min></appointment>\n")
        i += 1
      }
      w.write("</appointments>\n")
    } finally w.close()
    t.records = n
    t
  }

  /** Inputs are written with plain file IO, not Spark: repeated generation
    * then times the generator, not Spark's first-write start-up.
    */
  private def writeLines(path: String, lines: Iterator[String]): Unit = {
    val w = writer(path)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** `lines` as one file per core under `dir`, so a scan of the directory
    * gets one partition per core.
    */
  private def writeParts(dir: String, lines: IndexedSeq[String]): Unit = {
    val k = BenchSession.cores
    (0 until k).foreach { p =>
      writeLines(f"$dir/part-$p%05d", lines.slice(p * lines.size / k, (p + 1) * lines.size / k).iterator)
    }
  }

  private def writeRefdata(dir: String, v: Values): Unit = {
    writeLines(s"$dir/orgs.csv", Iterator("org_code,org_name,region") ++
      v.orgs.zipWithIndex.iterator.map { case (o, i) => s"$o,Organisation $i,Y${i % 7}" })
    Files.writeString(Paths.get(s"$dir/store.json"), RuleStore)
    Dischemas.foreach { case (k, json) => Files.writeString(Paths.get(s"$dir/$k.dischema.json"), json) }
  }

  private val QuantileOrder =
    IndexedSeq(0, 10, 5, 15, 2, 12, 7, 17, 4, 14, 9, 19, 1, 11, 6, 16, 3, 13, 8, 18)

  /** submission_queue: a backlog of small submissions over three dischemas,
    * interleaved CSV, JSON lines, CSV, XML so every stretch of the queue
    * has the same lane mix; sizes 100..8k skewed small; every 20th
    * submission (5%) is a CSV whose header misses a declared field
    * (expected outcome: failed).
    */
  def queue(dir: String, seed: Long, backlog: Int): Unit = {
    val rng = new Random(seed)
    val v = new Values(rng, 200)
    writeRefdata(dir, v)
    val root = mapper.createObjectNode()
    val arr = root.putArray("submissions")
    (0 until backlog).foreach { k =>
      // stratified sizes: each run of 20 submissions takes the 20 quantiles
      // of the skewed size distribution once and each block of four spans
      // the quartiles, so every seed queues the same amount of work
      val q = (QuantileOrder(k % QuantileOrder.size) + 0.5) / QuantileOrder.size
      val size = math.round(100 * math.pow(100, math.pow(q, 3))).toInt
      val id = f"q$seed-$k%04d"
      val t = k % 4 match {
        case 0 | 2 => episodeCsv(s"$dir/subs/$id/episode.csv", id, size, rng, v,
          malformed = k % 20 == 10)
        case 1 => referralJsonl(s"$dir/subs/$id/referral.jsonl", id, size, rng, v)
        case _ => appointmentXml(s"$dir/subs/$id/appointment.xml", id, size, rng, v)
      }
      arr.add(t.toJson)
    }
    writeJson(s"$dir/truth.json", root)
  }

  // ------------------------------------------------------------ corpus

  /** Word 3-gram shingle set, as the engine's shingler builds it from
    * single-space-separated text.
    */
  def shingles(text: String): Set[String] = {
    val w = text.split(' ')
    if (w.length < 3) Set(text) else w.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.count(b.contains)
    i.toDouble / (a.size + b.size - i)
  }

  /** corpus_dedup: `nDocs` ~300-char documents from a large random
    * vocabulary (unrelated documents share no 3-gram in practice), with
    * planted exact-duplicate groups and near-duplicate clusters (one word
    * substituted per variant), plus 64-d unit embeddings with planted
    * near-duplicate vectors.
    */
  def corpus(dir: String, seed: Long, nDocs: Int, nVecs: Int,
             jaccardThreshold: Double, cosineThreshold: Double): Unit = {
    val rng = new Random(seed)
    val vocab = Array.fill(40000)((0 until 3 + rng.nextInt(7)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString)
    def doc(): Array[String] = Array.fill(45 + rng.nextInt(10))(vocab(rng.nextInt(vocab.length)))
    val texts = new Array[String](nDocs)
    val exactGroups = mutable.ArrayBuffer.empty[Seq[Int]]
    val nearClusters = mutable.ArrayBuffer.empty[Seq[Int]]
    var i = 0
    while (i < nDocs) {
      val u = rng.nextDouble()
      val base = doc()
      if (u < 0.03 && i + 3 <= nDocs) { // exact-duplicate group of 2-3
        val k = 2 + rng.nextInt(2)
        (0 until k).foreach(j => texts(i + j) = base.mkString(" "))
        exactGroups += (i until i + k); i += k
      } else if (u < 0.08 && i + 4 <= nDocs) { // near-duplicate cluster of 2-4
        val k = 2 + rng.nextInt(3)
        texts(i) = base.mkString(" ")
        val positions = rng.shuffle((0 until base.length).toList).take(k - 1)
        positions.zipWithIndex.foreach { case (p, j) =>
          val variant = base.clone()
          while (variant(p) == base(p)) variant(p) = vocab(rng.nextInt(vocab.length))
          texts(i + 1 + j) = variant.mkString(" ")
        }
        nearClusters += (i until i + k); i += k
      } else { texts(i) = base.mkString(" "); i += 1 }
    }
    val ids = rng.shuffle((0 until nDocs).map(_.toLong * 7 + 3).toVector) // non-contiguous ids
    val scores = Array.fill(nDocs)(rng.nextDouble())
    // texts hold only [a-z ], so plain comma-separated lines are valid CSV
    val docLines = (0 until nDocs).map(k => s"${ids(k)},${texts(k)},${scores(k)}")
    writeParts(s"$dir/docs.csv", docLines)

    // truth: pairs at or above the threshold within planted groups
    val pairs = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val uf = new UnionFind
    def addPairs(members: Seq[Int]): Unit = {
      val sh = members.map(m => shingles(texts(m)))
      for (x <- members.indices; y <- x + 1 until members.size) {
        val j = jaccard(sh(x), sh(y))
        if (j >= jaccardThreshold) {
          val (a, b) = (ids(members(x)), ids(members(y)))
          pairs += ((math.min(a, b), math.max(a, b), j))
          uf.union(members(x), members(y))
        }
      }
    }
    exactGroups.foreach(addPairs)
    nearClusters.foreach(addPairs)
    // keep-best: within each component the highest score survives (min id breaks ties)
    val dropped = uf.groups.flatMap { g =>
      val keeper = g.maxBy(m => (scores(m), -ids(m)))
      g.filter(_ != keeper).map(ids(_))
    }.toSeq.sorted
    val exactDup = exactGroups.map(g => (g.map(ids(_)).min, g.size.toLong)).sorted

    // embeddings: unit gaussian vectors; planted clusters are small perturbations
    val dim = 64
    def unit(x: Array[Double]): Array[Double] = { val n = math.sqrt(x.map(d => d * d).sum); x.map(_ / n) }
    val vecs = new Array[Array[Double]](nVecs)
    val vecClusters = mutable.ArrayBuffer.empty[Seq[Int]]
    i = 0
    while (i < nVecs) {
      val base = unit(Array.fill(dim)(rng.nextGaussian()))
      if (rng.nextDouble() < 0.05 && i + 3 <= nVecs) {
        val k = 2 + rng.nextInt(2)
        vecs(i) = base
        (1 until k).foreach(j => vecs(i + j) = unit(base.map(_ + 0.02 * rng.nextGaussian())))
        vecClusters += (i until i + k); i += k
      } else { vecs(i) = base; i += 1 }
    }
    val vecIds = rng.shuffle((0 until nVecs).map(_.toLong * 5 + 1).toVector)
    val vecLines = (0 until nVecs).map(k =>
      s"""{"vec_id":${vecIds(k)},"embedding":${vecs(k).map(_.toFloat).mkString("[", ",", "]")}}""")
    writeParts(s"$dir/vecs.jsonl", vecLines)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val fa = a.map(_.toFloat.toDouble); val fb = b.map(_.toFloat.toDouble)
      fa.zip(fb).map { case (x, y) => x * y }.sum /
        math.sqrt(fa.map(x => x * x).sum * fb.map(x => x * x).sum)
    }
    val vecPairs = vecClusters.flatMap { g =>
      for (x <- g.indices; y <- x + 1 until g.size if cos(vecs(g(x)), vecs(g(y))) >= cosineThreshold)
        yield (math.min(vecIds(g(x)), vecIds(g(y))), math.max(vecIds(g(x)), vecIds(g(y))))
    }

    val root = mapper.createObjectNode()
    root.put("docs", nDocs.toLong).put("vectors", nVecs.toLong)
    root.put("jaccard_threshold", jaccardThreshold).put("cosine_threshold", cosineThreshold)
    root.put("distinct_texts", texts.distinct.length.toLong)
    val ex = root.putArray("exact_dup_groups") // [keep_id, dup_count]
    exactDup.foreach { case (k, c) => ex.addArray().add(k).add(c) }
    val pa = root.putArray("near_dup_pairs") // [a, b] with a < b
    pairs.sortBy(p => (p._1, p._2)).foreach { case (a, b, _) => pa.addArray().add(a).add(b) }
    val dr = root.putArray("keep_best_dropped")
    dropped.foreach(dr.add(_))
    val vp = root.putArray("vector_pairs")
    vecPairs.sorted.foreach { case (a, b) => vp.addArray().add(a).add(b) }
    writeJson(s"$dir/truth.json", root)
  }

  final class UnionFind {
    private val parent = mutable.HashMap.empty[Int, Int]
    def find(x: Int): Int = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Int, b: Int): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    def groups: Iterable[Seq[Int]] = parent.keys.toSeq.groupBy(find).values
  }

  def readTruth(dir: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new File(s"$dir/truth.json"))

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }
}
