package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import graft.engine.Engine

/** Closed-loop, single-client driver of the program's public entry
  * points. It reads a plan (which rows, in which order, how many set-ups)
  * written by `run.py`, executes it and writes one JSON document of raw
  * measurements; `run.py` derives every metric from that document.
  *
  * Usage: Main <plan.json> <out.json>
  *
  * Modes (plan field `mode`):
  *  - `run`: set up `setups` times, run the `warmup` list, then execute
  *    `passes` whole passes over `order`. With `trace` every query runs
  *    twice per pass, traced and untraced in alternating order, and the
  *    pass is executed exactly once so work counts repeat.
  *  - `record`: execute every row of `order` twice (forward, then
  *    reverse order) and write each result's fingerprint.
  *  - `list`: write the registry's row names by module; no session.
  */
object Main {

  private val mapper = new ObjectMapper()
  private type JMap = java.util.Map[String, AnyRef]

  final case class Q(name: String, module: String, run: SparkSession => DataFrame)

  private val Aggregates: Map[String, String] = Map(
    "sum_builtin" -> "sum(float)",
    "sum_custom" -> "sum_custom(float)",
    "sum_coercing" -> "sum_coercing(float)")

  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as listener event times and Catalyst phase summaries. */
  private val epochBase = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs(): Double = epochBase + System.nanoTime() / 1e6

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Files.readString(Paths.get(args(0))))
    val out = Paths.get(args(1))
    val sf = plan.get("sf").asText
    val seed = plan.get("seed").asLong
    val runDir = Paths.get(plan.get("run_dir").asText)
    val typesRows = plan.get("types_rows").asLong
    val setups = plan.get("setups").asInt
    val mode = plan.get("mode").asText
    val traced = plan.get("trace").asBoolean
    val passes = plan.path("passes").asInt(1)
    val order = plan.get("order").elements().asScala.map(_.asText).toIndexedSeq
    val warmup = plan.get("warmup").elements().asScala.map(_.asText).toIndexedSeq
    val expected: Map[String, (String, String)] =
      plan.get("expected").fields().asScala.map { e =>
        e.getKey -> (e.getValue.get("check").asText, e.getValue.get("fp").asText)
      }.toMap
    val registry = graft.SparkEntry.queries
    val streamRows = graft.streaming.StreamQueries.queries.keySet
    val extRows = graft.ext.Extensions.queries.keySet
    def query(name: String): Q = Aggregates.get(name) match {
      case Some(agg) => Q(name, "udaf", _.sql(s"SELECT $agg AS s FROM types"))
      case None =>
        val module = if (streamRows(name)) "streaming" else if (extRows(name)) "ext" else "ops"
        Q(name, module, s => registry(name)(s, sf))
    }

    if (mode == "list") {
      val rows = registry.keys.toSeq.sorted.groupBy(n => query(n).module)
      Files.writeString(out, mapper.writeValueAsString(rows.map { case (k, v) => k -> v.asJava }.asJava))
      return
    }

    val trace = new Trace
    var spark: SparkSession = null
    var refSum = Double.NaN
    val setupRecs = new java.util.ArrayList[AnyRef]()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // ---- set-up: fresh scratch, session, views, UDAFs
    (0 until setups).foreach { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) jvmStartMs else nowMs()
      val tmp = runDir.resolve(s"tmp$i")
      Files.createDirectories(tmp)
      // every tmpdir consumer (replay layouts, generated tables, temp
      // checkpoints, state stores) starts empty in every set-up
      System.setProperty("java.io.tmpdir", tmp.toString)
      System.setProperty("spark.local.dir", tmp.resolve("spark-local").toString)
      System.setProperty("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      val tb = nowMs()
      // no row reads the reference's `test` CSV view, so it is not registered
      spark = Engine.build(Engine.Options(
        master = "local[4]", typesTableLength = typesRows, seed = seed,
        shufflePartitions = 4, csvPath = None))
      val tr = nowMs()
      Engine.registerTestdata(spark, sf)
      val tw = nowMs()
      if (typesRows > 1024)
        refSum = spark.sql("SELECT sum(CAST(float AS DOUBLE)) FROM types").head().getDouble(0)
      val te = nowMs()
      setupRecs.add(Map[String, AnyRef](
        "total_ms" -> Double.box(te - t0), "build_ms" -> Double.box(tr - tb),
        "register_ms" -> Double.box(tw - tr)).asJava)
    }
    val sc = spark.sparkContext
    if (traced) {
      sc.addSparkListener(trace)
      spark.streams.addListener(trace.streams)
    }

    def check(q: Q, df: DataFrame, rows: Array[Row]): Option[String] =
      if (Aggregates.contains(q.name)) {
        val v = rows.head.get(0) match {
          case f: java.lang.Float => f.doubleValue
          case d: java.lang.Double => d.doubleValue
          case _ => Double.NaN
        }
        // float32 accumulation over 10^7 values: relative error well
        // under 1e-4 (rounding error grows with sqrt of the row count)
        if (math.abs(v - refSum) <= 1e-4 * math.abs(refSum)) None
        else Some(s"${q.name}=$v, reference sum(double)=$refSum")
      } else expected.get(q.name) match {
        case None => Some("no expected fingerprint")
        case Some(("rows", fp)) =>
          val got = Fingerprint.of(df.schema, Nil) + ":" + rows.length
          if (got == fp) None else Some(s"shape $got != expected $fp")
        case Some((_, fp)) =>
          val got = Fingerprint.of(df.schema, rows.toSeq)
          if (got == fp) None else Some(s"fingerprint $got != expected $fp")
      }

    var nextId = 0

    /** One query, one result. Untraced: wall from builder call to
      * collected result. Traced: the same, with spans and the listener's
      * record for this query attached. */
    def execute(q: Q, tracedExec: Boolean): JMap = {
      val id = nextId; nextId += 1
      val rec = new java.util.LinkedHashMap[String, AnyRef]()
      rec.put("name", q.name); rec.put("traced", Boolean.box(tracedExec))
      val spans = new java.util.ArrayList[AnyRef]()
      def span(name: String, parent: String, s: Double, e: Double): Unit =
        spans.add(Map[String, AnyRef]("name" -> name, "parent" -> parent,
          "start" -> Double.box(s), "end" -> Double.box(e)).asJava)
      if (tracedExec) {
        // untraced executions leave their events queued; deliver them
        // while nothing is current so none is filed under this query
        org.apache.spark.graftbridge.ListenerBridge.drain(sc)
        sc.setJobGroup(s"perfbench-q$id", q.name, interruptOnCancel = false)
        trace.current = id
      }
      val t0 = nowMs()
      var t1, t2, t3 = t0
      try {
        val df = q.run(spark)
        t1 = nowMs()
        if (tracedExec) df.queryExecution.executedPlan // plan before executing
        t2 = nowMs()
        val rows = df.collect()
        t3 = nowMs()
        rec.put("wall_ms", Double.box(t3 - t0))
        val err = check(q, df, rows)
        val t4 = nowMs()
        rec.put("ok", Boolean.box(err.isEmpty))
        err.foreach(e => rec.put("err", e))
        if (tracedExec) {
          span("query", "", t0, t4)
          span("build", "query", t0, t1)
          span("plan", "query", t1, t2)
          span("execute", "query", t2, t3)
          span("check", "query", t3, t4)
          df.queryExecution.tracker.phases.foreach { case (phase, s) =>
            span(phase, "plan", s.startTimeMs.toDouble, s.endTimeMs.toDouble)
          }
          rec.put("module", q.module)
          rec.put("build_ms", Double.box(t1 - t0))
          rec.putAll(planShape(df.queryExecution.executedPlan))
        }
      } catch {
        case e: Throwable =>
          rec.put("wall_ms", Double.box(nowMs() - t0))
          rec.put("ok", java.lang.Boolean.FALSE)
          rec.put("err", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally if (tracedExec) {
        org.apache.spark.graftbridge.ListenerBridge.drain(sc)
        trace.current = -1
        sc.clearJobGroup()
        val a = trace.take(id)
        rec.put("spans", spans)
        rec.put("layer", layer(a))
      }
      rec
    }

    val records = new java.util.ArrayList[AnyRef]()
    val fingerprints = new java.util.LinkedHashMap[String, AnyRef]()
    // warm-up: every row `warmup_passes` times, untimed for the metrics
    // but checked; the first stream row of each replay layout builds it here
    val warmupStart = nowMs()
    warmup.foreach { n =>
      val rec = execute(query(n), tracedExec = false)
      rec.put("warmup", java.lang.Boolean.TRUE)
      records.add(rec)
    }
    val loopStart = nowMs()
    mode match {
      case "run" if traced =>
        order.zipWithIndex.foreach { case (n, i) =>
          val q = query(n)
          // alternate which mode runs first so neither is always the warmer
          val modes = if (i % 2 == 0) Seq(true, false) else Seq(false, true)
          modes.foreach(m => records.add(execute(q, m)))
        }
      case "run" =>
        // a fixed number of whole passes: every run executes the same rows
        // the same number of times, however fast the host is at the moment
        (0 until passes).foreach { _ =>
          order.foreach(n => records.add(execute(query(n), tracedExec = false)))
        }
      case "record" =>
        (order ++ order.reverse).foreach { n => try {
          val df = query(n).run(spark)
          val rows = df.collect()
          val fp = Fingerprint.of(df.schema, rows.toSeq)
          val shape = Fingerprint.of(df.schema, Nil) + ":" + rows.length
          val prev = fingerprints.get(n).asInstanceOf[JMap]
          val entry = new java.util.LinkedHashMap[String, AnyRef]()
          entry.put("fp", fp); entry.put("shape", shape)
          if (prev != null) entry.put("stable", Boolean.box(prev.get("fp") == fp))
          fingerprints.put(n, entry)
        } catch {
          case e: Throwable => fingerprints.put(n, Map[String, AnyRef](
            "err" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}").asJava)
        } }
    }
    val loopMs = nowMs() - loopStart

    val result = new java.util.LinkedHashMap[String, AnyRef]()
    result.put("setups", setupRecs)
    result.put("warmup_ms", Double.box(loopStart - warmupStart))
    result.put("loop_ms", Double.box(loopMs))
    result.put("queries", records)
    result.put("fingerprints", fingerprints)
    result.put("ref_sum", Double.box(refSum))
    result.put("peak_rss_mb", Double.box(procStatusKb("VmHWM") / 1024.0))
    Files.writeString(out, mapper.writeValueAsString(result))
    spark.stop()
  }

  private def layer(a: Trace#Acc): JMap = {
    val mb = 1024.0 * 1024.0
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    def put(k: String, v: Double): Unit = m.put(k, Double.box(v))
    put("scheduler.jobs", a.jobs); put("scheduler.stages", a.stages)
    put("scheduler.tasks", a.tasks); put("scheduler.delay_ms", a.delayMs)
    put("scheduler.tasks_failed", a.tasksFailed)
    put("scheduler.stages_skipped", a.stagesSkipped)
    put("executor.run_ms", a.runMs); put("executor.cpu_ms", a.cpuNs / 1e6)
    put("executor.deser_ms", a.deserMs); put("executor.gc_ms", a.gcMs)
    put("executor.peak_mem_mb", a.peakMem / mb)
    put("scan.input_mb", a.inputBytes / mb); put("scan.records", a.inputRecords)
    put("shuffle.write_mb", a.shufWrite / mb); put("shuffle.read_mb", a.shufRead / mb)
    put("shuffle.fetch_wait_ms", a.fetchWaitMs); put("shuffle.records", a.shufRecords)
    put("spill.disk_mb", a.spillDisk / mb); put("spill.mem_mb", a.spillMem / mb)
    put("storage.blocks_written", a.blocks); put("storage.block_mb", a.blockBytes / mb)
    put("streaming.state_rows", a.streamState.values.map(_._1).sum.toDouble)
    put("streaming.state_mb", a.streamState.values.map(_._2).sum / mb)
    m.put("jobs", a.jobSpans.map { case (j, g, s, e) =>
      Map[String, AnyRef]("job" -> Int.box(j), "group" -> g,
        "start" -> Double.box(s.toDouble), "end" -> Double.box(e.toDouble)).asJava
    }.asJava)
    m.put("batches", a.batches.map(b => b.map { case (k, v) => k -> Double.box(v) }.asJava).asJava)
    m
  }

  /** Operators of the executed plan, looking through adaptive wrappers
    * and into subqueries; `inCodegen` marks those a whole-stage codegen
    * stage compiles. */
  private def operators(p: SparkPlan, inCodegen: Boolean): Seq[(SparkPlan, Boolean)] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan, inCodegen)
    case s: QueryStageExec => operators(s.plan, inCodegen)
    case w: WholeStageCodegenExec => operators(w.child, inCodegen = true)
    case i: InputAdapter => operators(i.child, inCodegen = false)
    case other =>
      (other, inCodegen) +: (other.children ++ other.subqueries).flatMap(operators(_, inCodegen))
  }

  private def planShape(p: SparkPlan): JMap = {
    val ops = operators(p, inCodegen = false)
    val nonCodegenAggs = ops.count {
      case (_: ObjectHashAggregateExec | _: SortAggregateExec, _) => true
      case _ => false
    }
    Map[String, AnyRef](
      "non_codegen_aggs" -> Int.box(nonCodegenAggs),
      "codegen_frac" -> Double.box(
        if (ops.isEmpty) 0.0 else ops.count(_._2).toDouble / ops.size)).asJava
  }

  private def procStatusKb(field: String): Double =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith(field + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    }.getOrElse(0.0)
}
