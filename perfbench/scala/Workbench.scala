package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{Catalog, Engine, Export, Page, Render}

/** The JVM half of the workbench benchmark. `run.py` writes a plan (the
  * generated inputs and statement streams), this program runs it through
  * the workbench's public surface — `Catalog.importFolder`, `Engine.sql`,
  * `Render.tableToRows`, `Page.sortRows`/`searchRows`, `Export`, the
  * declared `SparkEntry.queries` builders — and writes every raw timing,
  * span and listener event to one JSON file. All arithmetic (percentiles,
  * self times, amplification) happens in `metrics.py`.
  *
  * Usage: Workbench <plan.json> <result.json>
  */
object Workbench {

  def main(args: Array[String]): Unit = {
    val plan = Json.readObject(Paths.get(args(0)))
    val out = new Out
    val run = new Runner(plan, out)
    try run.execute()
    finally run.stop()
    Files.write(Paths.get(args(1)), out.render().getBytes(StandardCharsets.UTF_8))
  }
}

/** Wall clock in epoch milliseconds with nanosecond resolution, so spans
  * line up with Spark's listener timestamps (epoch ms). */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Host speed: a fixed integer loop on every one of `threads` threads at
  * once, touching no data and no code of the program, so its wall time
  * moves only with the machine (the CPU share it grants and its clock).
  * Probed at the start, twice in every slot and at the end; a point keeps
  * the fastest of three probes, so a collection, a JIT compile or a late
  * task of the program in the same JVM does not read as a slow host. */
object Calib {
  @volatile private var sink = 0L

  private def loop(): Unit = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    sink += x
  }

  def probeMs(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => loop()))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }
}

/** Collects the result document. */
final class Out {
  val facts = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val setups = ArrayBuffer.empty[Map[String, Any]]
  val ops = ArrayBuffer.empty[Map[String, Any]]
  val spans = ArrayBuffer.empty[Map[String, Any]]
  val phases = ArrayBuffer.empty[Map[String, Any]]
  var events: Map[String, Any] = Map.empty

  def render(): String = Json.write(Map(
    "facts" -> facts.toMap, "setups" -> setups.toSeq, "ops" -> ops.toSeq,
    "spans" -> spans.toSeq, "phases" -> phases.toSeq, "events" -> events))
}

/** Spark-side events of a traced operation: jobs and tasks from a
  * `SparkListener`, planning phases from a `QueryExecutionListener`. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  val qes = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, (e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, stageIds) =>
      jobs.add(Map("id" -> e.jobId, "start" -> t0, "end" -> e.time,
        "stages" -> stageIds))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val base = Map[String, Any]("stage" -> e.stageId,
      "start" -> e.taskInfo.launchTime, "end" -> e.taskInfo.finishTime)
    tasks.add(if (m == null) base else base ++ Map(
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime, "in_bytes" -> m.inputMetrics.bytesRead,
      "in_rows" -> m.inputMetrics.recordsRead,
      "shuffle_w" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_r" -> m.shuffleReadMetrics.totalBytesRead,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qes.add(Tracer.phases(qe))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    qes.add(Tracer.phases(qe))

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "tasks" -> tasks.asScala.toSeq,
    "qes" -> qes.asScala.toSeq)
}

object Tracer {
  /** Planning phases of one QueryExecution, keyed by tracker identity so a
    * phase seen both from a returned DataFrame and from the listener is
    * counted once. */
  def phases(qe: QueryExecution): Map[String, Any] = Map(
    "tracker" -> System.identityHashCode(qe.tracker),
    "phases" -> qe.tracker.phases.map { case (k, v) =>
      k -> Seq(v.startTimeMs, v.endTimeMs) })
}

final class Runner(plan: Map[String, Any], out: Out) {
  import Json._

  private val work = Paths.get(str(plan, "work"))
  private val dataDir = Paths.get(str(plan, "data"))
  private val cpus = num(plan, "cpus").toInt
  private val traceOn = num(plan, "trace") > 0
  private val traceEvery = num(plan, "trace_every").toInt max 1
  private var spark: SparkSession = _
  private val tracer = new Tracer
  private var opSeq = 0
  // span stack of the current traced operation
  private var tracing = false
  private var curOp = -1
  private val stack = ArrayBuffer.empty[Int]

  /** Set-up on a cold JVM, then every phase's prelude and untimed
    * warm-up, then the timed operations interleaved by slot: each slot
    * holds a set-up and its share of every phase, so every metric samples
    * the whole run and a slow spell of the host cannot fall on one phase
    * alone. */
  def execute(): Unit = {
    val calib = ArrayBuffer.empty[Double]
    def probe(): Unit = calib += (1 to 3).map(_ => Calib.probeMs(cpus)).min
    val phases = seq(plan, "phases").map(_.asInstanceOf[Map[String, Any]])
    val slots = num(plan, "slots").toInt
    probe()
    setup(traced = false)
    hostFacts()
    phases.foreach(warm)
    val walls = phases.map(_ => ArrayBuffer.empty[Double])
    (0 until slots).foreach { slot =>
      probe()
      setup(traced = traceOn && slot == slots - 1)
      phases.zipWithIndex.foreach { case (p, k) =>
        if (k == phases.size / 2) probe()
        val ops = seq(p, "ops").map(_.asInstanceOf[Map[String, Any]])
          .drop(num(p, "warmup").toInt).filter(o => num(o, "slot") == slot)
        ops.foreach { o =>
          val t0 = Clock.nowMs
          runOp(str(p, "name"), o, walls(k).size, record = true)
          walls(k) += Clock.nowMs - t0
        }
      }
    }
    probe()
    phases.zip(walls).foreach { case (p, w) =>
      out.phases += Map("phase" -> str(p, "name"), "kind" -> "phase",
        "executed" -> w.size, "wall_ms" -> w.sum)
      gateDump(str(p, "name"), p)
    }
    out.facts("calib_ms") = calib.toSeq
    out.facts("peak_rss_kb") = peakRssKb
    if (traceOn) {
      BusDrain.drain(spark.sparkContext)
      out.events = tracer.toMap
    }
  }

  def stop(): Unit = if (spark != null) spark.stop()

  /** The process's peak resident set (VmHWM), or -1 off Linux. */
  private def peakRssKb: Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1L
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  private def hostFacts(): Unit = {
    val f = out.facts
    f("nproc") = Runtime.getRuntime.availableProcessors()
    f("local_n") = cpus
    f("driver_heap_mb") = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    f("jdk") = System.getProperty("java.version")
    f("spark") = spark.version
    f("scala") = scala.util.Properties.versionNumberString
  }

  // --- set-up: fresh session, folder import, named views -----------------

  /** One set-up as a user pays it: a fresh session on the running
    * context, the folder import, the named views. The context itself
    * starts once per run, before the first set-up (a host fact). */
  private def setup(traced: Boolean): Unit = {
    if (spark == null) {
      val t = Clock.nowMs
      spark = graft.engine.Session.builder(s"local[$cpus]")
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      out.facts("context_start_ms") = Clock.nowMs - t
    }
    val t0 = Clock.nowMs
    spark = spark.newSession()
    SparkSession.setActiveSession(spark)
    if (traced) attach()
    val t1 = Clock.nowMs
    val op = beginOp(traced)
    span("catalog.importFolder") { Catalog.importFolder(spark, dataDir.resolve("folder")) }
    val t2 = Clock.nowMs
    seq(plan, "views").foreach(v => span("engine.sql") { Engine.sql(spark, v.toString) })
    val t3 = Clock.nowMs
    endOp(op, "setup", "import", "import", t1, t3, ok = true, null, Map.empty)
    if (traced) detach()
    out.setups += Map("session_ms" -> (t1 - t0), "import_ms" -> (t2 - t1),
      "views_ms" -> (t3 - t2), "total_ms" -> (t3 - t0))
  }

  // --- tracing ------------------------------------------------------------

  private def attach(): Unit = {
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
  }

  private def detach(): Unit = {
    BusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tracer)
    spark.listenerManager.unregister(tracer)
  }

  private def beginOp(traced: Boolean): Int = {
    opSeq += 1
    tracing = traced
    curOp = opSeq
    stack.clear()
    opSeq
  }

  private def codegenNow: (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** A span around one call into a layer; recorded only in traced ops. */
  private def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = out.spans.size
      val parent = stack.lastOption.getOrElse(-1)
      out.spans += Map.empty // placeholder keeps ids stable for children
      stack += id
      val (cg0, cc0) = codegenNow
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        val (cg1, cc1) = codegenNow
        stack.remove(stack.size - 1)
        out.spans(id) = Map("name" -> name, "start" -> t0, "end" -> t1,
          "parent" -> parent, "op" -> curOp,
          "codegen_ns" -> (cg1 - cg0), "compiles" -> (cc1 - cc0))
      }
    }

  private def endOp(op: Int, phase: String, kind: String, id: String,
      t0: Double, t1: Double, ok: Boolean, err: String,
      extra: Map[String, Any]): Unit = {
    out.ops += Map("op" -> op, "phase" -> phase, "kind" -> kind, "id" -> id,
      "start" -> t0, "end" -> t1, "ok" -> ok, "err" -> err,
      "traced" -> tracing) ++ extra
    tracing = false
  }

  /** Runs `body` as one operation of a phase, timing it and catching its
    * failure. */
  private def operation(phase: String, kind: String, id: String, traced: Boolean)(
      body: => Map[String, Any]): Unit = {
    if (traced) attach()
    val op = beginOp(traced)
    val t0 = Clock.nowMs
    val (ok, err, extra) =
      try { val e = body; (true, null, e) }
      catch { case e: Throwable => (false, String.valueOf(e.getMessage).take(300), Map.empty[String, Any]) }
    val t1 = Clock.nowMs
    endOp(op, phase, kind, id, t0, t1, ok, err, extra)
    if (traced) detach()
  }

  // --- phases ---------------------------------------------------------------

  /** A phase's prelude, its starting table size and its untimed warm-up. */
  private def warm(p: Map[String, Any]): Unit = {
    val name = str(p, "name")
    val t0 = Clock.nowMs
    seq(p, "prelude").foreach(s => Engine.sql(spark, s.toString))
    val t1 = Clock.nowMs
    opt(p, "final_table").foreach { t =>
      val files = listFiles(work.resolve("warehouse").resolve(t.toString))
      out.phases += Map("phase" -> name, "kind" -> "start_table",
        "files" -> files.size, "bytes" -> files.values.sum)
    }
    seq(p, "ops").take(num(p, "warmup").toInt)
      .foreach(o => runOp(name, o.asInstanceOf[Map[String, Any]], -1, record = false))
    out.phases += Map("phase" -> name, "kind" -> "warmup",
      "prelude_ms" -> (t1 - t0), "wall_ms" -> (Clock.nowMs - t1))
  }

  private def runOp(phase: String, o: Map[String, Any], n: Int, record: Boolean): Unit = {
    val kind = str(o, "kind")
    val id = str(o, "id")
    def body: Map[String, Any] = kind match {
      case "stmt" => statement(o)
      case "write" => write(o)
      case "export" => export(o)
      case "pipeline" => pipeline(o)
      case "ngram" => ngram(o)
    }
    // In a traced run a statement runs twice, traced and untraced in
    // alternating order, and the pair's difference is the tracing
    // overhead; other operations are traced every `trace_every`-th one.
    if (!record) try body catch { case _: Throwable => () }
    else if (kind == "stmt" && traceOn) {
      operation(phase, kind, id, traced = n % 2 == 0)(body)
      operation(phase, kind, id, traced = n % 2 == 1)(body)
    }
    else if (kind != "write") operation(phase, kind, id, traceOn && n % traceEvery == 0)(body)
    else {
      val dir = work.resolve("warehouse").resolve(str(o, "table"))
      val before = listFiles(dir)
      operation(phase, kind, id, traceOn && n % traceEvery == 0)(body)
      val after = listFiles(dir)
      val added = after.keySet -- before.keySet
      out.ops(out.ops.size - 1) = out.ops.last ++ Map(
        "files_added" -> added.size,
        "files_removed" -> (before.keySet -- after.keySet).size,
        "bytes_added" -> added.toSeq.map(after).sum,
        "files_live" -> after.size, "bytes_live" -> after.values.sum)
    }
  }

  /** Data files (not hidden/underscore markers) of a table dir, with sizes. */
  private def listFiles(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        })
        .map(f => dir.relativize(f).toString -> Files.size(f)).toMap
      finally s.close()
    }

  /** The interactive user path: run, render the first page, sort it by a
    * column, search it. */
  private def statement(o: Map[String, Any]): Map[String, Any] = {
    val df = span("engine.sql") { Engine.sql(spark, str(o, "sql")) }
    if (tracing) tracer.qes.add(Tracer.phases(df.queryExecution))
    val page = span("render.tableToRows") { Render.tableToRows(df) }
    val sorted = span("page.sortRows") {
      Page.sortRows(page, num(o, "sort_col").toInt min (page.columns.size - 1), ascending = false)
    }
    val found = span("page.searchRows") { Page.searchRows(sorted, str(o, "search")) }
    Map("total" -> page.totalRows, "shown" -> page.shown, "found" -> found.shown,
      "sorted_rows" -> sorted.rows.size, "columns" -> page.columns,
      "rows" -> (if (bool(o, "keep_rows")) page.rows else Seq.empty))
  }

  /** A write through the copy-on-write DML route; the table dir is listed
    * after the statement (outside its timing) to count files and bytes. */
  private def write(o: Map[String, Any]): Map[String, Any] = {
    seq(o, "sqls").foreach(s => span("engine.sql") { Engine.sql(spark, s.toString) })
    Map.empty
  }

  private def export(o: Map[String, Any]): Map[String, Any] = {
    val df = span("engine.sql") { Engine.sql(spark, str(o, "sql")) }
    val csv = span("export.toCsvParts") { Export.toCsvParts(df) }
    val target = work.resolve(str(o, "out"))
    Files.createDirectories(target.getParent)
    Files.write(target, csv.parts.mkString.getBytes(StandardCharsets.UTF_8))
    Map("rows" -> csv.rows, "parts" -> csv.parts.size,
      "chars" -> csv.parts.map(_.length.toLong).sum)
  }

  private def pipeline(o: Map[String, Any]): Map[String, Any] = {
    val q = graft.SparkEntry.queries(str(o, "query"))
    val df = span("queries.build") { q(spark, dataDir.resolve(str(o, "dir")).toString) }
    val target = work.resolve(str(o, "out")).toString
    span("export.writeParquet") { Export.writeParquet(df, target) }
    Map("docs" -> num(o, "docs").toLong)
  }

  private def ngram(o: Map[String, Any]): Map[String, Any] = {
    graft.functions.WordNgrams.register(spark)
    graft.functions.Md5PrefixLong.register(spark)
    val docs = spark.read.parquet(dataDir.resolve(str(o, "dir")).resolve("documents.parquet").toString)
    span("functions.ngram_hash") {
      docs.selectExpr(
        "explode(graft_word_ngrams(split(text, ' '), 3)) AS g")
        .selectExpr("graft_md5_long(g, 15) AS h")
        .write.format("noop").mode("overwrite").save()
    }
    Map("docs" -> num(o, "docs").toLong)
  }

  // --- correctness dumps (untimed) -----------------------------------------

  private def gateDump(name: String, p: Map[String, Any]): Unit =
    opt(p, "final_table").foreach { t =>
      val dir = work.resolve("gate").resolve(name).toString
      spark.table(t.toString).coalesce(1).write.mode("overwrite").parquet(dir)
      out.phases += Map("phase" -> name, "kind" -> "final_table", "path" -> dir)
    }
}

/** Minimal JSON reader/writer over Scala maps and sequences (Jackson from
  * the Spark distribution does the parsing). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def readObject(p: Path): Map[String, Any] =
    convert(mapper.readValue(p.toFile, classOf[Object])).asInstanceOf[Map[String, Any]]

  private def convert(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> convert(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(convert).toSeq
    case other => other
  }

  def str(m: Map[String, Any], k: String): String = m(k).toString
  def num(m: Map[String, Any], k: String): Double = m.get(k) match {
    case Some(n: Number) => n.doubleValue
    case _ => 0.0
  }
  def bool(m: Map[String, Any], k: String): Boolean =
    m.get(k).contains(true)
  def seq(m: Map[String, Any], k: String): Seq[Any] =
    m.get(k).map(_.asInstanceOf[Seq[Any]]).getOrElse(Seq.empty)
  def opt(m: Map[String, Any], k: String): Option[Any] =
    m.get(k).filter(_ != null)

  def write(v: Any): String = {
    val sb = new StringBuilder
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => sb.append(mapper.writeValueAsString(s))
      case b: Boolean => sb.append(b)
      case d: Double =>
        sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Number => sb.append(n.toString)
      case m: collection.Map[_, _] =>
        sb.append('{')
        var first = true
        m.foreach { case (k, y) =>
          if (!first) sb.append(',')
          first = false
          sb.append(mapper.writeValueAsString(k.toString)).append(':')
          go(y)
        }
        sb.append('}')
      case s: Iterable[_] =>
        sb.append('[')
        var first = true
        s.foreach { y =>
          if (!first) sb.append(',')
          first = false
          go(y)
        }
        sb.append(']')
      case other => sb.append(mapper.writeValueAsString(other.toString))
    }
    go(v)
    sb.toString
  }
}
