package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, BatchJob, HarnessSession, SparkEntry}
import graft.ingest.{BatchConfig, BatchPipeline, BatchRunStore, Parsers}
import graft.queries.{CorpusOps, Dedup, IngestOps}

/** The benchmark's client: one thread, closed loop (each operation starts
  * after the previous one returns, as in a batch job), timing calls into
  * graft's public entry points from outside.
  *
  * A run builds its session and inputs (timed as set-up), then makes passes
  * over the workload's operations while another pass still fits in
  * `--seconds`, at least one. Untraced, it prints the end-to-end metrics;
  * traced, it alternates untraced and traced passes and prints the
  * per-layer metrics. The last stdout line is the result JSON.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *   --data <sf dir> --spec <workloads.json> --work <empty scratch dir>
  *   --out <dir for the trace file>
  */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, spec: String, work: String, out: String)

  /** One operation of a workload: `run` returns its (construct, execute)
    * seconds and throws when the operation or its check fails.
    */
  final case class Op(name: String, group: String, run: () => (Double, Double))

  final case class Sample(op: Op, pass: Int, traced: Boolean, seconds: Double,
      construct: Double, execute: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spec = new ObjectMapper().readTree(new File(o.spec))
    val w = Option(spec.get("workloads").get(o.workload)).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val t0 = System.nanoTime()
    val spark = HarnessSession.build()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val cores = spark.sparkContext.defaultParallelism
    val tracer = new Tracer(spark)
    if (o.trace) tracer.enable()

    val setupStart = System.nanoTime()
    val workload: Workload = o.workload match {
      case "ingest" => new IngestWorkload(spark, tracer, o, w)
      case _ => new QueryWorkload(spark, tracer, o, w)
    }
    val setupS = sessionS + (System.nanoTime() - setupStart) / 1e9

    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val loopStart = System.nanoTime()
    var pass = 0
    var lastPassS = 0.0
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // Untraced: passes while the next one (as long as the last) still ends
    // within --seconds, at least one. Traced: passes alternate untraced and
    // traced, at least three. The JVM's first pass is the slowest, so a
    // traced pass is compared with the untraced pass after it; passes keep
    // getting faster, so trace.overhead_share errs high, never low.
    val minPasses = if (o.trace) 3 else 1
    while (pass < minPasses || elapsed + lastPassS <= o.seconds) {
      val traced = o.trace && pass % 2 == 1
      if (traced) tracer.enable() else tracer.disable()
      val p0 = System.nanoTime()
      tracer.span("workload", o.workload) {
        workload.ops.foreach { op =>
          samples += runOp(spark, tracer, op, pass, traced)
        }
      }
      lastPassS = (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    tracer.disable()
    val checkFailures = workload.check()

    val untraced = samples.filterNot(_.traced).toSeq
    opMedians(untraced).toSeq.sortBy(_._1).foreach { case (k, v) =>
      System.err.println(f"[perfbench] op $k%-32s $v%.3f s")
    }
    System.err.println(f"[perfbench] setup ${setupS}%.3f s (session $sessionS%.3f s), $pass passes")
    val attempted = samples.size
    val failed = samples.count(!_.ok) + checkFailures
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) endToEnd(workload, untraced, setupS, attempted, failed)
      else {
        tracer.enable()
        val probes = tracer.span("workload", s"${o.workload}.probes")(workload.probes())
        tracer.disable()
        perLayer(workload, samples.toSeq, tracer, sessionS, cores, probes, o)
      }
    println(resultLine(attempted, failed, metrics))
    spark.stop()
  }

  def runOp(spark: SparkSession, tracer: Tracer, op: Op, pass: Int, traced: Boolean): Sample = {
    Bench.coldSweep(spark)
    val t0 = System.nanoTime()
    val (construct, execute, ok) =
      try tracer.span("op", op.name) {
        val (c, e) = op.run()
        (c, e, true)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${op.name} failed: ${e.toString.take(500)}")
          (0.0, 0.0, false)
      }
    val secs = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] pass $pass ${op.name}%-32s $secs%.3f s${if (traced) " traced" else ""}")
    Sample(op, pass, traced, secs, construct, execute, ok)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-operation median seconds over the passes made, keyed by op name. */
  def opMedians(samples: Seq[Sample]): Map[String, Double] =
    samples.groupBy(_.op.name).map { case (k, v) => k -> median(v.map(_.seconds)) }

  def endToEnd(w: Workload, samples: Seq[Sample], setupS: Double,
      attempted: Int, failed: Int): Seq[(String, Double, String)] = {
    val med = opMedians(samples)
    val wall = med.values.sum
    val p50 = median(samples.filter(s => w.latencyGroups(s.op.group)).map(_.seconds))
    val recPerS = w.throughputOps match {
      case Some(names) => names.map(w.recordsOf).sum / names.map(med).sum
      case None => w.ops.map(op => w.recordsOf(op.name)).sum / wall
    }
    Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wall, "s"),
      ("op_p50_s", p50, "s"),
      ("rec_per_s", recPerS, "1/s"),
      ("ok_share", 1.0 - failed.toDouble / attempted, "share"))
  }

  def perLayer(w: Workload, samples: Seq[Sample], tracer: Tracer, sessionS: Double,
      cores: Int, probes: Map[String, Double], o: Opts): Seq[(String, Double, String)] = {
    tracer.drain()
    val spans = tracer.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    val counts = tracer.countsBySpan()
    // the op span each span sits under, if any
    def opOf(id: Int): Option[Span] = byId.get(id) match {
      case Some(s) if s.layer == "op" => Some(s)
      case Some(s) => opOf(s.parent)
      case None => None
    }
    val traced = samples.filter(_.traced)
    val nTraced = traced.map(_.pass).distinct.size.max(1)
    val opCounts = new SparkCounts
    counts.foreach { case (id, c) => if (opOf(id).isDefined) opCounts.add(c) }
    def perPass(x: Double) = x / nTraced
    val tracedWall = traced.map(_.seconds).sum
    def passWalls(ss: Seq[Sample]) = ss.groupBy(_.pass).values.map(_.map(_.seconds).sum).toSeq
    val untracedWall = median(passWalls(samples.filter(s => !s.traced && s.pass > 0)))
    val tracedPassWall = median(passWalls(traced))
    def layerSum(layer: String) = spans.filter(_.layer == layer).map(_.seconds).sum
    def opLayerSum(layer: String) =
      perPass(spans.filter(s => s.layer == layer && opOf(s.id).isDefined).map(_.seconds).sum)
    def groupSum(group: String) = perPass(traced.filter(_.op.group == group).map(_.seconds).sum)
    val heapPeakMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    writeTrace(o, spans, counts)
    val mb = 1048576.0
    Seq(
      ("ingest.scan_s", probes.getOrElse("scan_s", 0.0), "s"),
      ("ingest.parse_s", probes.getOrElse("parse_s", 0.0), "s"),
      ("ingest.process_file_s", opLayerSum("ingest.process_file"), "s"),
      ("ingest.csv_ns_per_rec", probes.getOrElse("csv_ns_per_rec", 0.0), "ns"),
      ("ingest.fw_ns_per_rec", probes.getOrElse("fw_ns_per_rec", 0.0), "ns"),
      ("ingest.run_store_s", probes.getOrElse("run_store_s", 0.0), "s"),
      ("queries.construct_s", perPass(traced.map(_.construct).sum), "s"),
      ("queries.execute_s", perPass(traced.map(_.execute).sum), "s"),
      ("stores.lex_build_s", layerSum("stores.lex_build"), "s"),
      ("stores.sig_build_s", layerSum("stores.sig_build"), "s"),
      ("stores.fixture_s", layerSum("stores.fixture"), "s"),
      ("writes.delta_s", groupSum("delta"), "s"),
      ("writes.versioned_s", groupSum("versioned"), "s"),
      ("writes.replay_s", groupSum("replay"), "s"),
      ("writes.store_append_s", groupSum("store_append"), "s"),
      ("spark.plan_ms", perPass(opCounts.planMs.toDouble), "ms"),
      ("spark.jobs", perPass(opCounts.jobs.toDouble), "count"),
      ("spark.stages", perPass(opCounts.stages.toDouble), "count"),
      ("spark.tasks", perPass(opCounts.tasks.toDouble), "count"),
      ("spark.core_busy_share",
        if (tracedWall > 0) opCounts.runMs / 1000.0 / (tracedWall * cores) else 0.0, "share"),
      ("spark.exec_run_s", perPass(opCounts.runMs / 1000.0), "s"),
      ("spark.exec_cpu_s", perPass(opCounts.cpuNs / 1e9), "s"),
      ("spark.gc_s", perPass(opCounts.gcMs / 1000.0), "s"),
      ("spark.shuffle_write_mb", perPass(opCounts.shuffleWriteBytes / mb), "MB"),
      ("spark.shuffle_read_mb", perPass(opCounts.shuffleReadBytes / mb), "MB"),
      ("spark.spill_mb", perPass(opCounts.spillBytes / mb), "MB"),
      ("spark.peak_exec_mem_mb", opCounts.peakExecMem / mb, "MB"),
      ("harness.session_s", sessionS, "s"),
      ("harness.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.overhead_share", (tracedPassWall - untracedWall) / untracedWall, "share"))
  }

  /** Every span with its self time (duration minus its children's) and the
    * Spark work attributed to it, plus self time summed per layer.
    */
  def writeTrace(o: Opts, spans: Seq[Span], counts: Map[Int, SparkCounts]): Unit = {
    val childS = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    def self(s: Span) = s.seconds - childS.getOrElse(s.id, 0.0)
    val layers = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(self).sum }
    val sb = new StringBuilder
    sb ++= s"""{"workload":${q(o.workload)},"seed":${o.seed},"self_s_by_layer":{"""
    sb ++= layers.toSeq.sortBy(_._1).map { case (l, v) => s"${q(l)}:$v" }.mkString(",")
    sb ++= """},"spans":["""
    sb ++= spans.sortBy(_.id).map { s =>
      val c = counts.getOrElse(s.id, new SparkCounts)
      s"""{"id":${s.id},"parent":${s.parent},"layer":${q(s.layer)},"name":${q(s.name)},""" +
        s""""start_s":${s.startNs / 1e9},"end_s":${s.endNs / 1e9},"self_s":${self(s)},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"exec_run_ms":${c.runMs},""" +
        s""""plan_ms":${c.planMs}}"""
    }.mkString(",\n")
    val un = counts.getOrElse(-1, new SparkCounts)
    sb ++= s"""],"unattributed":{"jobs":${un.jobs},"tasks":${un.tasks}}}"""
    new File(o.out).mkdirs()
    Files.write(Paths.get(o.out, s"trace_${o.workload}_seed${o.seed}.json"),
      sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def resultLine(attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s"""${q(k)}:{"value":$v,"unit":${q(u)}}"""
    }
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("spec"), need("work"), need("out"))
  }

  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties().asScala.map(e => e.getKey -> e.getValue).toSeq
}

/** A workload's operations, their checks, and its traced-only probes. */
trait Workload {
  def ops: Seq[Harness.Op]
  /** Groups whose operations' seconds make up `op_p50_s`. */
  def latencyGroups: Set[String]
  /** Operations whose records per second make up `rec_per_s`; None: all. */
  def throughputOps: Option[Seq[String]]
  def recordsOf(op: String): Long
  /** Checks that need the whole run's outputs; returns the failures. */
  def check(): Int = 0
  /** Layer timings measured only in traced runs, outside the passes. */
  def probes(): Map[String, Double] = Map.empty
}

/** Queries from `SparkEntry.queries`, each run cold (Bench.coldSweep) and
  * materialized in full (Bench.materialize); its row count must equal the
  * expected count committed with the benchmark.
  */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, o: Harness.Opts, w: JsonNode)
    extends Workload {
  private val expected: Seq[(String, String, Long)] =
    Harness.fields(w.get("groups")).flatMap { case (group, qs) =>
      Harness.fields(qs).map { case (q, rows) => (q, group, rows.asLong()) }
    }
  private val byName = SparkEntry.queries

  private def buildStores(key: String): Unit =
    Option(w.get(key)).toSeq.flatMap(_.elements().asScala.map(_.asText())).foreach {
      case "lex" => tracer.span("stores.lex_build", "writeLexStore")(CorpusOps.writeLexStore(spark, o.data))
      case "sig" => tracer.span("stores.sig_build", "writeSignatureStore")(Dedup.writeSignatureStore(spark, o.data))
      case other => throw new IllegalArgumentException(s"unknown store $other")
    }

  // set-up: the stores and fixtures a deployment builds once, at ingest
  buildStores("stores")
  expected.foreach { case (q, _, _) =>
    require(byName.contains(q), s"no query named $q")
    tracer.span("stores.fixture", q)(IngestOps.warmFixture(spark, o.data, q.takeWhile(_ != '_')))
  }

  val ops: Seq[Harness.Op] = expected.map { case (q, group, rows) =>
    val fn = byName(q)
    Harness.Op(q, group, () => {
      val t0 = System.nanoTime()
      val df: DataFrame = tracer.span("queries.construct", q)(fn(spark, o.data))
      val t1 = System.nanoTime()
      val n = tracer.span("queries.execute", q)(Bench.materialize(df))
      val t2 = System.nanoTime()
      if (n != rows) throw new IllegalStateException(s"$q returned $n rows, expected $rows")
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    })
  }
  /** Stores no operation reads, built in traced runs only to time them. */
  override def probes(): Map[String, Double] = { buildStores("traced_stores"); Map.empty }

  private val rowsOf = expected.map { case (q, _, r) => q -> r }.toMap
  val latencyGroups: Set[String] = expected.map(_._2).toSet
  val throughputOps: Option[Seq[String]] = None
  def recordsOf(op: String): Long = rowsOf(op)
}

/** `BatchJob.processFile` over seeded flat files with target, status and
  * run sinks: large files (per-record cost) and 20k-line files (per-file
  * cost).
  */
final class IngestWorkload(spark: SparkSession, tracer: Tracer, o: Harness.Opts, w: JsonNode)
    extends Workload {
  import IngestGen.GenFile

  private val inputs = new File(o.work, "inputs")
  inputs.mkdirs()
  private def gen(name: String, format: String, lines: Long, seed: Long): GenFile =
    tracer.span("harness.generate", name) {
      IngestGen.write(new File(inputs, s"$name.$format").getPath, format, lines, seed)
    }

  private val large: Seq[GenFile] = w.get("large").elements().asScala.zipWithIndex.map {
    case (f, i) => gen(s"large$i", f.get("format").asText(), f.get("lines").asLong(), o.seed * 1000 + i)
  }.toSeq
  private val small: Seq[GenFile] = {
    val s = w.get("small")
    val formats = s.get("formats").elements().asScala.map(_.asText()).toSeq
    (0 until s.get("count").asInt()).map { i =>
      gen(s"small$i", formats(i % formats.size), s.get("lines").asLong(), o.seed * 1000 + 100 + i)
    }
  }
  private def parser(f: GenFile): BatchJob.Parser = f.format match {
    case "csv" => BatchJob.Parser.Csv(IngestGen.csvSpec)
    case "fw" => BatchJob.Parser.Fw(IngestGen.fwSpec(f.lines))
  }

  private val sinkRoot = new File(o.work, "sinks")
  private var nextSink = 0
  /** (sinks, summary, file) of every call whose summary was right, for
    * [[check]].
    */
  private val calls = scala.collection.mutable.ArrayBuffer.empty[(BatchJob.Sinks, BatchJob.RunSummary, GenFile)]

  private def process(f: GenFile): (BatchJob.Sinks, BatchJob.RunSummary) = {
    val dir = new File(sinkRoot, nextSink.toString).getPath
    nextSink += 1
    val sinks = BatchJob.Sinks(targetPath = Some(s"$dir/target"),
      statusPath = Some(s"$dir/status"), runPath = Some(s"$dir/run"))
    (sinks, tracer.span("ingest.process_file", f.path) {
      BatchJob.processFile(spark, f.path, parser(f), sinks, BatchConfig())
    })
  }

  private def op(group: String, f: GenFile) = Harness.Op(new File(f.path).getName, group, () => {
    val (sinks, s) = process(f)
    if (s.totalRecordCount != f.lines || s.successCount != f.success ||
        s.failureCount != f.failed || s.ignoredCount != 0)
      throw new IllegalStateException(s"${f.path}: summary $s, expected ${f.lines} lines, " +
        s"${f.success} SUCCESS, ${f.failed} FAILED")
    // only calls that passed this check get the sink check, so no call
    // counts as failed twice
    calls += ((sinks, s, f))
    (0.0, 0.0)
  })

  // the small files first: they also warm the JIT for the per-record path
  val ops: Seq[Harness.Op] = small.map(op("small", _)) ++ large.map(op("large", _))
  val latencyGroups: Set[String] = Set("small")
  val throughputOps: Option[Seq[String]] = Some(large.map(f => new File(f.path).getName))
  private val linesOf = (large ++ small).map(f => new File(f.path).getName -> f.lines).toMap
  def recordsOf(op: String): Long = linesOf(op)

  /** Target rows, status rows and the final BatchRun row of every call,
    * read back in three jobs after the passes.
    */
  override def check(): Int = {
    val done = calls.toSeq
    if (done.isEmpty) return 0
    def read(p: BatchJob.Sinks => Option[String]) = spark.read.parquet(done.map(c => p(c._1).get): _*)
    val target = read(_.targetPath).groupBy("run_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val status = read(_.statusPath).groupBy("run_id", "status_text").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val runs = read(_.runPath).collect().map { r =>
      r.getAs[String]("runId") -> r
    }.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_.getAs[Long]("version")) }
    done.count { case (_, s, f) =>
      val run = runs.get(s.runId)
      val ok = target.getOrElse(s.runId, 0L) == f.success &&
        status.getOrElse((s.runId, "SUCCESS"), 0L) == f.success &&
        status.getOrElse((s.runId, "FAILED"), 0L) == f.failed &&
        run.exists(r => r.getAs[String]("status") == "COMPLETED" &&
          r.getAs[Long]("successCount") == f.success &&
          r.getAs[Long]("failureCount") == f.failed &&
          r.getAs[Long]("totalRecordCount") == f.lines)
      if (!ok) System.err.println(s"[perfbench] sink check failed for ${f.path} (run ${s.runId})")
      !ok
    }
  }

  /** Layers inside processFile, timed by calling them separately on the
    * first large file: the scan alone, the scan plus parse, the BatchRun
    * store round trip, and the pure parsers in one thread without Spark.
    */
  override def probes(): Map[String, Double] = {
    val f = large.find(_.format == "csv").get
    def timed[T](body: => T): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def rep(n: Int)(body: => Double): Double = Harness.median((1 to n).map(_ => body))
    val scan = rep(3)(timed(tracer.span("ingest.scan", f.path) {
      Bench.materialize(BatchPipeline.textSource(spark, f.path).toDF())
    }))
    val scanParse = rep(3)(timed(tracer.span("ingest.parse", f.path) {
      Bench.materialize(BatchPipeline.parseCsv(BatchPipeline.textSource(spark, f.path), IngestGen.csvSpec))
    }))
    val store = rep(3)(timed(tracer.span("ingest.run_store", f.path) {
      val st = new BatchRunStore(spark, new File(sinkRoot, s"probe_run_${nextSink}").getPath)
      nextSink += 1
      val v = st.insert("probe", f.path, System.currentTimeMillis())
      st.update("probe", v)(_.copy(status = "COMPLETED"))
    }))
    def nsPerRec(g: GenFile)(parse: String => Parsers.ParsedRecord): Double = {
      val lines = Files.readAllLines(Paths.get(g.path)).asScala.toArray
      var sink = 0L
      rep(5)(timed(lines.foreach(l => sink += parse(l).fields.length)) * 1e9 / lines.length)
    }
    val csv = (large ++ small).find(_.format == "csv").get
    val fw = (large ++ small).find(_.format == "fw").get
    Map(
      "scan_s" -> scan,
      "parse_s" -> (scanParse - scan),
      "run_store_s" -> store,
      "csv_ns_per_rec" -> nsPerRec(csv)(Parsers.parseCsvLine(IngestGen.csvSpec)),
      "fw_ns_per_rec" -> nsPerRec(fw)(Parsers.parseFwLine(IngestGen.fwSpec(fw.lines))))
  }
}
