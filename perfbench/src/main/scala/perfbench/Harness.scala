package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.io.{Csv, QualtricsReader}
import graft.ops.{Dashboard, Recency, RowId, SimilarityJoin}
import graft.pipeline.{VarinfoConfig, VarinfoUpdate}
import graft.streaming.{EmbeddingIngest, SimilarityIngest}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark's JVM side. `run.py` generates the inputs, launches this
  * main with the JVM options of the repository build, and checks what it
  * writes.
  *
  *   Harness setup <cores>
  *   Harness varinfo|ingest <cores> <inputDir> <workDir> <warm units>
  *           <trace 0|1> <resultJson>
  *
  * Every mode prints `READY` once the session is up and the graft
  * extensions are installed; `run.py` times JVM start to that line. The
  * workload modes then run one cold unit of work and a fixed number of
  * warm ones (with trace 1, traced units as well), and write their
  * samples, output digests and trace to `resultJson`. */
object Harness {

  def main(args: Array[String]): Unit = {
    val spark = session(args(1).toInt)
    println("READY")
    System.out.flush()
    try args(0) match {
      case "setup" =>
      case mode =>
        val Array(_, _, in, work, warm, trace, out) = args
        val res = mode match {
          case "varinfo" => new Varinfo(spark, in, work).run(warm.toInt,
            trace == "1")
          case "ingest" => new Ingest(spark, in, work).run(warm.toInt,
            trace == "1")
        }
        writeJson(Paths.get(out), res + ("rss_peak_kb" -> rssPeakKb()))
    } finally spark.stop()
  }

  /** The session `graft.Bench` and `graft.pipeline.Main` build. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.catalyst.GraftExtensions.install(spark)
    spark
  }

  /** Write `v` as JSON atomically, so `run.py` never reads a partial
    * file. */
  def writeJson(path: Path, v: Map[String, Any]): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, Serialization.write(v)(DefaultFormats)
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def rssPeakKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Read-backs per unit: the read side is short, so it is sampled more. */
  val ReadbackRepeats = 2

  /** Drop what a unit of work left cached, as `graft.Bench` does between
    * queries, so one unit's blocks do not tax the next. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def sha256(p: java.nio.file.Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
  }

  /** Regular files under `dir` with their sizes, by relative path. */
  def listFiles(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Map.empty
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap
    finally s.close()
  }

  /** Calls and failures of library calls, for the error rate. */
  final class Calls {
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer[String]()
    def apply[T](what: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f)
      catch { case NonFatal(e) =>
        failed += 1
        errors += s"$what: ${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[perfbench] $what failed")
        e.printStackTrace()
        None
      }
    }
    def toJson: Map[String, Any] = Map("calls_attempted" -> attempted,
      "calls_failed" -> failed, "errors" -> errors.toSeq)
  }
}

/** The two-phase varinfo codebook update, as the survey team runs it. */
final class Varinfo(spark: SparkSession, in: String, work: String) {
  import Harness._

  private val calls = new Calls
  private val cfgs = mutable.Map[String, VarinfoConfig]()

  private def config(dir: String): VarinfoConfig =
    cfgs.getOrElseUpdate(dir, {
      Files.createDirectories(Paths.get(dir))
      VarinfoConfig(responseFile = s"$in/responses.csv",
        priorVarinfoFile = s"$in/prior.csv", workDir = dir,
        varinfoFolder = dir)
    })

  private def outputs(c: VarinfoConfig): Seq[String] = Seq(
    c.needsManualUpdateFile, c.unmatchedVarsFile, c.manuallyUpdatedFile,
    c.outputFile, c.trimmedOutputFile)

  /** The survey team's manual pass between the phases: a copy of the
    * manual-update file with the seeded `TODO-REVIEW` section markers
    * resolved. */
  private def humanEdit(c: VarinfoConfig): Unit = {
    val text = new String(
      Files.readAllBytes(Paths.get(c.needsManualUpdateFile)), "UTF-8")
    Files.write(Paths.get(c.manuallyUpdatedFile),
      text.replace("TODO-REVIEW", "REVIEWED").getBytes("UTF-8"))
  }

  private def stats(s: VarinfoUpdate.MatchStats): Map[String, Any] = Map(
    "totalVars" -> s.totalVars, "exact" -> s.exact, "fuzzy" -> s.fuzzy,
    "unmatchedText" -> s.unmatchedText, "totalMatched" -> s.totalMatched,
    "stillUnmatched" -> s.stillUnmatched)

  /** Both output files read back through the stock reader, as the next
    * cycle (prior codebook) and the dashboard consume them. */
  private def readback(c: VarinfoConfig): Unit = {
    noop(Csv.readAsStrings(spark, c.outputFile))
    noop(Csv.readAsStrings(spark, c.trimmedOutputFile))
  }

  /** One untraced unit: `phase1`, the human edit, `phase2`, read-back. */
  private def unit(dir: String): Map[String, Any] = {
    val c = config(dir)
    val (st, p1) = secondsOf(calls("phase1")(VarinfoUpdate.phase1(spark, c)))
    humanEdit(c)
    val (_, p2) = secondsOf(calls("phase2")(VarinfoUpdate.phase2(spark, c)))
    val rb = (1 to ReadbackRepeats).map(_ =>
      secondsOf(calls("readback")(readback(c)))._2)
    finish(c, st, p1, p2, rb)
  }

  /** The same unit replayed as the public calls `phase1`/`phase2` make,
    * in their order, under one span per phase and one per call. */
  private def tracedUnit(dir: String, t: Trace): Map[String, Any] = {
    val c = config(dir)
    val d = QualtricsReader.DynamicColumns(c.surveyYear)
    val (st, p1) = secondsOf(t.span("phase1") {
      calls("phase1") {
        val ci = t.span("io.load_survey_column_info")(
          QualtricsReader.loadSurveyColumnInfo(spark, c.responseFile,
            c.surveyYear))
        val prior = t.span("io.read_as_strings")(
          Csv.readAsStrings(spark, c.priorVarinfoFile))
        val (joined, unmatched, stats) = t.span("pipeline.join_varinfo")(
          VarinfoUpdate.joinVarinfo(prior, ci, c))
        t.span("io.write_single.phase1") {
          Csv.writeSingle(joined, c.needsManualUpdateFile)
          Csv.writeSingle(unmatched, c.unmatchedVarsFile)
        }
        stats
      }
    })
    humanEdit(c)
    val (_, p2) = secondsOf(t.span("phase2") {
      calls("phase2") {
        val updated = t.span("io.read_as_strings")(
          Csv.readAsStrings(spark, c.manuallyUpdatedFile))
        val sorted = t.span("ops.sort_varinfo")(
          Recency.sortVarinfo(updated).drop("row_id", "string_distance"))
        t.span("io.write_single.phase2") {
          Csv.writeSingle(sorted, c.outputFile)
          Csv.writeSingle(Dashboard.dashboard(sorted, c.joinColumnVar),
            c.trimmedOutputFile)
        }
      }
    })
    val rb = (1 to ReadbackRepeats).map(_ => secondsOf(calls("readback")(
      t.span("readback")(readback(c))))._2)
    // the theta-join kernel alone, on the inputs joinVarinfo gives it
    calls("similarity_join") {
      val ci = QualtricsReader.loadSurveyColumnInfo(spark, c.responseFile,
        c.surveyYear)
      val right = RowId.withRowId1(ci, "__graft_ci_id")
      val left = RowId.withRowId1(Csv.readAsStrings(spark,
        c.priorVarinfoFile), "row_id")
        .withColumn(c.joinColumnText,
          coalesce(col(s"`${c.joinColumnText}`"), lit("")))
      // the match count rides the noop write as an observed metric
      val matched = org.apache.spark.sql.Observation("matches")
      val pairs = SimilarityJoin.leftJoin(left, right, c.joinColumnText,
        d.questionTextColName, c.maxStringDistance)
      t.span("ops.similarity_join")(noop(pairs.observe(matched,
        count(col("string_distance")).as("n"))))
      val kernel = joinNodes(pairs.queryExecution.executedPlan)
      t.annotate("ops.similarity_join", Map(
        "matches" -> matched.get("n"), "kernel" -> kernel.mkString(",")))
    }
    finish(c, st, p1, p2, rb)
  }

  /** Join operators of a physical plan, looking through adaptive
    * execution's wrapper. */
  private def joinNodes(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => joinNodes(a.executedPlan)
    case _ => p.collect { case j if j.nodeName.contains("Join") =>
      j.nodeName } ++ p.children.collect {
      case a: AdaptiveSparkPlanExec => joinNodes(a) }.flatten
  }

  private def finish(c: VarinfoConfig, st: Option[VarinfoUpdate.MatchStats],
                     p1: Double, p2: Double,
                     rb: Seq[Double]): Map[String, Any] = {
    release(spark)
    val files = outputs(c).map(p => Paths.get(p)).filter(Files.exists(_))
    Map("phase1_s" -> p1, "phase2_s" -> p2, "readback_s" -> rb,
      "stats" -> st.map(stats).orNull,
      "hashes" -> files.map(p => p.getFileName.toString -> sha256(p)).toMap,
      "out_bytes" -> files.map(Files.size(_)).sum,
      "dir" -> c.workDir)
  }

  /** Unit 0 is cold, then `warm` units follow. With tracing, each warm
    * unit is paired with a traced one, the pair order alternating (traced
    * first, then untraced first, ...), so JIT warm-up over the run
    * weighs on both arms alike. */
  def run(warm: Int, traced: Boolean): Map[String, Any] = {
    val units, tracedUnits = mutable.ArrayBuffer[Map[String, Any]]()
    val trace = if (traced) Some(new Trace(spark)) else None
    units += unit(s"$work/u0")
    for (i <- 1 to warm) {
      val arms = Seq(() => units += unit(s"$work/u$i")) ++ trace.map(t =>
        () => tracedUnits += t.recording(s"t$i")(
          tracedUnit(s"$work/t$i", t)))
      (if (i % 2 == 1) arms.reverse else arms).foreach(_())
    }
    Map("units" -> units.toSeq, "traced_units" -> tracedUnits.toSeq,
      "trace" -> trace.map(_.toJson).orNull) ++ calls.toJson
  }
}

/** Micro-batches through both exactly-once ingest gates. The cold first
  * batch runs against state of its own; then the warm sequence runs
  * `warm` batches from batch 0 against one fresh state directory per
  * gate, compacts both mid-stream, and reads the committed verdicts
  * back. */
final class Ingest(spark: SparkSession, in: String, work: String) {
  import Harness._
  import Trace.OptionalTrace

  /** The read side is short and noisy, so it is sampled more. */
  private val Readbacks = 5

  private val calls = new Calls
  private val generated: Int =
    Files.list(Paths.get(in)).iterator().asScala
      .count(_.getFileName.toString.startsWith("docs-"))

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Each batch file as a driver-local frame, like a micro-batch. The
    * lines are parsed on the driver, so loading runs no Spark job. */
  private val mapper = new ObjectMapper()
  private def local(file: String, schema: StructType)(
      row: JsonNode => Row): DataFrame = {
    val lines = Files.readAllLines(Paths.get(s"$in/$file")).asScala
    spark.createDataFrame(lines.filter(_.nonEmpty)
      .map(l => row(mapper.readTree(l))).asJava, schema)
  }
  private val docs = (0 until generated).map(b =>
    local(s"docs-$b.jsonl", docSchema)(n =>
      Row(n.get("doc_id").asLong, n.get("text").asText)))
  private val vecs = (0 until generated).map(b =>
    local(s"vecs-$b.jsonl", vecSchema)(n =>
      Row(n.get("vec_id").asLong,
        n.get("embedding").elements().asScala.map(_.floatValue).toSeq)))

  /** Committed verdicts of both gates, one (id, status) row each. */
  private def verdicts(sim: String, emb: String): DataFrame =
    SimilarityIngest.accepted(spark, sim)
      .select(col("doc_id").as("id"), lit("accepted").as("status"))
      .unionByName(SimilarityIngest.quarantined(spark, sim)
        .select(col("doc_id").as("id"), col("reason").as("status")))
      .unionByName(EmbeddingIngest.accepted(spark, emb)
        .select(col("vec_id").as("id"), lit("accepted").as("status")))
      .unionByName(EmbeddingIngest.quarantined(spark, emb)
        .select(col("vec_id").as("id"), col("reason").as("status")))

  /** The verdicts sorted by id, one `id\tstatus` line each, in a file
    * beside `dir`. */
  private def saveVerdicts(dir: String): java.nio.file.Path = {
    val out = calls("collect verdicts")(
      verdicts(s"$dir/sim", s"$dir/emb").orderBy("id").collect()
        .map(r => s"${r.getLong(0)}\t${r.getString(1)}"))
      .getOrElse(Array.empty[String])
    val file = Paths.get(s"$dir.verdicts.tsv")
    Files.write(file, out.mkString("", "\n", "\n").getBytes("UTF-8"))
    file
  }

  private def dataFiles(dirs: String*): Map[String, Long] =
    dirs.flatMap(d => listFiles(d).map { case (k, v) => s"$d/$k" -> v })
      .filter { case (k, _) => k.endsWith(".parquet") }.toMap

  private def batch(t: Option[Trace], sim: String, emb: String,
                    b: Int): (Double, Double) = {
    calls("lastBatchId")(t.span("streaming.ledger_last")(
      SimilarityIngest.lastBatchId(spark, sim)))
    val before = listFiles(sim)
    val simS = secondsOf(calls(s"sim batch $b")(
      t.span("streaming.similarity_apply_batch")(
        SimilarityIngest.applyBatch(spark, sim, docs(b), b, "doc_id",
          "text"))))._2
    annotateWrites(t, "streaming.similarity_apply_batch", before, sim)
    val beforeE = listFiles(emb)
    val embS = secondsOf(calls(s"emb batch $b")(
      t.span("streaming.embedding_apply_batch")(
        EmbeddingIngest.applyBatch(spark, emb, vecs(b), b, "vec_id",
          "embedding"))))._2
    annotateWrites(t, "streaming.embedding_apply_batch", beforeE, emb)
    (simS, embS)
  }

  /** The batch sequence against fresh state under `dir`. */
  private def sequence(dir: String, t: Option[Trace],
                       warm: Int): Map[String, Any] = {
    require(warm <= generated, s"$warm batches need $warm files")
    val sim = s"$dir/sim"
    val emb = s"$dir/emb"
    val simS, embS = mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    for (b <- 0 until warm) {
      val (s1, s2) = batch(t, sim, emb, b)
      simS += s1
      embS += s2
      if (b == (warm - 1) / 2) {
        val filesBefore = dataFiles(sim, emb)
        calls("compactIndexes")(t.span("streaming.compact_indexes") {
          SimilarityIngest.compactIndexes(spark, sim)
          EmbeddingIngest.compactIndexes(spark, emb)
        })
        val after = dataFiles(sim, emb)
        t.foreach(_.annotate("streaming.compact_indexes", Map(
          "files_before" -> filesBefore.size, "files_after" -> after.size,
          "bytes_rewritten" -> after.filter { case (k, _) =>
            !filesBefore.contains(k) }.values.sum)))
      }
    }
    val wall = (System.nanoTime() - start) / 1e9
    val listed = dataFiles(s"$sim/accepted", s"$sim/quarantine",
      s"$emb/accepted", s"$emb/quarantine").size
    val readbacks = (1 to Readbacks).map { _ =>
      val s = secondsOf(calls("readback")(
        t.span("streaming.committed_read")(noop(verdicts(sim, emb)))))._2
      t.foreach(_.annotate("streaming.committed_read",
        Map("files_listed" -> listed)))
      s
    }
    val verdictFile = saveVerdicts(dir)
    val stateBytes = listFiles(dir).values.sum
    // replaying the last committed batch must change nothing
    val last = warm - 1
    val replayNoop = calls("replay") {
      val before = (listFiles(sim), listFiles(emb))
      SimilarityIngest.applyBatch(spark, sim, docs(last), last, "doc_id",
        "text")
      EmbeddingIngest.applyBatch(spark, emb, vecs(last), last, "vec_id",
        "embedding")
      before == ((listFiles(sim), listFiles(emb))) &&
        SimilarityIngest.lastBatchId(spark, sim) == last &&
        EmbeddingIngest.lastBatchId(spark, emb) == last
    }.getOrElse(false)
    release(spark)
    Map("sim_batch_s" -> simS.toSeq, "emb_batch_s" -> embS.toSeq,
      "batches" -> warm, "wall_s" -> wall,
      "readback_s" -> readbacks, "state_bytes" -> stateBytes,
      "replay_noop" -> replayNoop, "verdicts" -> verdictFile.toString,
      "verdicts_sha256" -> sha256(verdictFile))
  }

  private def annotateWrites(t: Option[Trace], name: String,
                             before: Map[String, Long], dir: String): Unit =
    t.foreach { tr =>
      val written = listFiles(dir).filter { case (k, v) =>
        !before.get(k).contains(v) }
      tr.annotate(name, Map("files_written" -> written.size,
        "bytes_written" -> written.values.sum))
    }

  /** The cold batch 0, then the warm sequence, which repeats batch 0 on
    * fresh state: its verdicts of that batch must be the cold batch's.
    * With tracing, a traced sequence runs before the untraced one, so the
    * untraced sequence it is compared with is the warmer one and the
    * measured overhead is if anything too high. */
  def run(warm: Int, traced: Boolean): Map[String, Any] = {
    val cold = s"$work/c0"
    val (coldSim, coldEmb) = batch(None, s"$cold/sim", s"$cold/emb", 0)
    release(spark)
    val trace = if (traced) Some(new Trace(spark)) else None
    val tracedUnits = trace.toSeq.map(t =>
      t.recording("t1")(sequence(s"$work/t1", trace, warm)))
    val units = Seq(sequence(s"$work/u0", None, warm))
    val coldVerdicts = saveVerdicts(cold)
    Map("units" -> units, "traced_units" -> tracedUnits,
      "first_batch_s" -> Seq(coldSim, coldEmb),
      "first_verdicts" -> coldVerdicts.toString,
      "trace" -> trace.map(_.toJson).orNull) ++ calls.toJson
  }
}
