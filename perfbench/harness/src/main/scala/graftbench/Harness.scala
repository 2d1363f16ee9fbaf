package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.core.Workflow
import graft.tables.Tables

/** One benchmark run: set up the session, make one cold pass
  * and then whole warm passes over the workload's operations until the
  * measuring time is used, and print the raw measurements as one JSON
  * line prefixed `GRAFTBENCH `. perfbench/run.py turns them into the
  * reported metrics and checks the outputs the cold pass wrote.
  *
  * Every operation is one routed target resolved through graft.core:
  * query workloads route `query.{name}` to `SparkEntry.queries(name)`
  * and `publish.{name}.{out:path}` through graft.sinks; the pipeline
  * workload runs graft.examples.DataPipeline's own routes. A target that
  * returns a DataFrame is then evaluated in full: a parquet write of
  * every row and column in the cold pass (the files the checks read),
  * Spark's `noop` write in the warm passes.
  *
  * With `--trace 1` the run records spans (op, route, cell, execute)
  * through the Workflow's public `resolver`/`materializer` hooks,
  * attributes Spark jobs to a phase through a local property and to an
  * operation through the job group, drains the listener bus at every
  * operation boundary, and writes the spans as JSON lines at the end.
  * With `--trace 0` none of that runs; only pass-level counters are
  * kept.
  */
object Harness {

  final case class Conf(
      mode: String,
      inputs: String,
      work: String,
      seconds: Double,
      trace: Boolean,
      cores: Int,
      ops: Seq[String],
      publish: Option[String])

  def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(kv("mode"), kv("inputs"), kv("work"), kv("seconds").toDouble, kv("trace") == "1",
      kv("cores").toInt, kv("ops").split(',').toSeq.filter(_.nonEmpty),
      kv.get("publish").filter(_.nonEmpty))
  }

  /** One operation: a display name and its route, where `{out}` stands
    * for the pass's output directory (present only on write routes).
    */
  final case class Op(name: String, route: String) {
    def writes: Boolean = route.contains("{out}")
    def target(out: String): String = route.replace("{out}", out)
    def dir: String = name.replaceAll("[^A-Za-z0-9_.-]", "_")
  }

  // ---- spans -------------------------------------------------------

  final class Span(val id: Int, val parent: Int, val kind: String, val name: String, val t0: Long) {
    var t1: Long = 0L
    var childNs: Long = 0L
    var lastChildEnd: Long = t0
    var fnNs: Long = 0L // time in the cell's own function (cell spans)
    def ns: Long = t1 - t0
  }

  final class Tracer(val on: Boolean) {
    val done = mutable.ArrayBuffer.empty[Span]
    private var stack: List[Span] = Nil
    private var next = 0
    def current: Option[Span] = stack.headOption
    def span[T](kind: String, name: String)(body: => T): T =
      if (!on) body
      else {
        val s = new Span(next, stack.headOption.map(_.id).getOrElse(-1), kind, name, System.nanoTime())
        next += 1
        stack = s :: stack
        try body
        finally {
          s.t1 = System.nanoTime()
          stack = stack.tail
          stack.headOption.foreach { p => p.childNs += s.ns; p.lastChildEnd = s.t1 }
          done += s
        }
      }
  }

  // ---- Spark-side counters -----------------------------------------

  val PhaseKey = "graftbench.phase"
  private val LoadSite = """ at (Tables|Sources)\.scala""".r

  /** Sums task and job metrics per "jobGroup|phase" key. */
  final class Counters extends SparkListener {
    private val stageKey = new ConcurrentHashMap[Int, String]()
    val sums = new ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]]()
    private def add(key: String, metric: String, v: Long): Unit =
      if (v != 0) sums.computeIfAbsent(key, _ => new ConcurrentHashMap())
        .computeIfAbsent(metric, _ => new AtomicLong()).addAndGet(v)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val key = prop("spark.jobGroup.id") + "|" + prop(PhaseKey)
      e.stageIds.foreach(stageKey.put(_, key))
      add(key, "jobs", 1)
      if (e.stageInfos.exists(s => LoadSite.findFirstIn(s.name).isDefined)) add(key, "load_jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(stageKey.getOrDefault(e.stageInfo.stageId, "|"), "stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val key = stageKey.getOrDefault(e.stageId, "|")
      add(key, "tasks", 1)
      add(key, "task_ms", e.taskInfo.duration)
      if (!e.taskInfo.successful) add(key, "task_failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(key, "run_ms", m.executorRunTime)
        add(key, "cpu_ns", m.executorCpuTime)
        add(key, "gc_ms", m.jvmGCTime)
        add(key, "result_bytes", m.resultSize)
        add(key, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(key, "shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        add(key, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add(key, "input_bytes", m.inputMetrics.bytesRead)
        add(key, "input_rows", m.inputMetrics.recordsRead)
      }
    }
    /** Sum of `metric` over keys whose group starts with `group` and
      * whose phase is in `phases` (all phases when empty).
      */
    def total(group: String, metric: String, phases: Set[String] = Set.empty): Long =
      sums.asScala.iterator.collect {
        case (k, ms) if k.startsWith(group) && (phases.isEmpty || phases(k.split('|').lift(1).getOrElse(""))) =>
          Option(ms.get(metric)).map(_.get).getOrElse(0L)
      }.sum
  }

  /** Catalyst phase times and plan shape of every query execution. */
  final class Plans extends QueryExecutionListener {
    @volatile var group: String = ""
    val sums = new ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]]()
    private def add(metric: String, v: Long): Unit =
      sums.computeIfAbsent(group, _ => new ConcurrentHashMap())
        .computeIfAbsent(metric, _ => new AtomicLong()).addAndGet(v)
    private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => Iterator(s) ++ nodes(s.plan)
      case o => Iterator(o) ++ (o.children.iterator ++ o.subqueries.iterator).flatMap(nodes)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // analysis is left out: it runs eagerly as each DataFrame is
      // built (inside the build), so an executed query's tracker reads ~0
      Seq("optimization", "planning").foreach { ph =>
        add(ph + "_ms", qe.tracker.phases.get(ph).map(_.durationMs).getOrElse(0L))
      }
      val all = nodes(qe.executedPlan).toSeq
      add("nodes", all.count(n => !n.isInstanceOf[QueryStageExec]))
      add("exchanges", all.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      })
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    def total(prefix: String, metric: String): Long =
      sums.asScala.iterator.collect {
        case (k, ms) if k.startsWith(prefix) => Option(ms.get(metric)).map(_.get).getOrElse(0L)
      }.sum
  }

  // ---- the run -----------------------------------------------------

  final class Session(val spark: SparkSession, val wkf: Workflow, val counters: Counters,
      val plans: Option[Plans])

  def session(c: Conf): Session = {
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val plans = if (c.trace) Some(new Plans) else None
    plans.foreach(spark.listenerManager.register)
    // ready = the workload's workflow built over its loaded inputs
    val wkf = workflow(c, spark)
    Tables.names.filter(t => new File(s"${c.inputs}/$t.parquet").exists())
      .foreach(t => Tables.load(spark, c.inputs, t).schema)
    new Session(spark, wkf, counters, plans)
  }

  def workflow(c: Conf, spark: SparkSession): Workflow = c.mode match {
    case "pipeline" => graft.examples.DataPipeline.build(spark, c.inputs)
    case "queries" =>
      val wkf = new Workflow("")
      wkf.provide("query.{name}") { ctx => SparkEntry.queries(ctx.str("name"))(spark, c.inputs) }
      wkf.provide("publish.{name}.{out:path}") { ctx =>
        val out = ctx.str("out") + "/publish_" + ctx.str("name")
        graft.sinks.RoutedSink.standard().write(s"parquet:$out", ctx.as[DataFrame]("in"))
        out
      }.depend("in" -> "query.{name}")
      graft.Materializers.spark(wkf)
  }

  def ops(c: Conf): Seq[Op] = c.mode match {
    case "pipeline" => c.ops.map(t => Op(t, t))
    case "queries" =>
      c.ops.map(q => Op(q, s"query.$q")) ++ c.publish.map(q => Op(s"publish.$q", s"publish.$q.{out}"))
  }

  /** Wrap the workflow's public hooks so every dependency it resolves
    * becomes a `cell` span, and the end of each cell's own function is
    * marked (what is left of a cell span is graft.core's bookkeeping).
    */
  def instrument(wkf: Workflow, tr: Tracer, phase: Phase): Unit = {
    val base = wkf.resolver
    wkf.resolver = Some { (resolve: String => Any, resource: String) =>
      phase.within(if (phase.writes(resource)) "write" else "build") {
        tr.span("cell", resource) {
          base match {
            case Some(b) => b(resolve, resource)
            case None => resolve(resource)
          }
        }
      }
    }
    val mat = wkf.materializer
    wkf.materializer = (cell, res) => {
      tr.current.foreach(s => s.fnNs = System.nanoTime() - s.lastChildEnd)
      mat(cell, res)
    }
  }

  /** The phase local property that tags every Spark job. */
  final class Phase(sc: org.apache.spark.SparkContext, on: Boolean) {
    var out: String = ""
    def writes(resource: String): Boolean = out.nonEmpty && resource.contains(out)
    def within[T](p: String)(body: => T): T =
      if (!on) body
      else {
        val prev = sc.getLocalProperty(PhaseKey)
        sc.setLocalProperty(PhaseKey, p)
        try body
        finally sc.setLocalProperty(PhaseKey, prev)
      }
  }

  def dirStats(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else {
      val files = Files.walk(dir.toPath).iterator.asScala.map(_.toFile)
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")).toSeq
      (files.size.toLong, files.map(_.length).sum)
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  object J {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opList = ops(c)
    val work = new File(c.work)

    // set-up: from JVM start (a millisecond clock) to a ready session
    val sinceJvm = (System.currentTimeMillis() - jvmStart) / 1e3
    val t0 = System.nanoTime()
    val s = session(c)
    val setup = sinceJvm + (System.nanoTime() - t0) / 1e9
    val spark = s.spark
    val sc = spark.sparkContext
    val tr = new Tracer(c.trace)
    val phase = new Phase(sc, c.trace)
    if (c.trace) instrument(s.wkf, tr, phase)
    def drain(): Unit = org.apache.spark.graftbench.ListenerBus.drain(sc)

    val passes = mutable.ArrayBuffer.empty[String]
    val errors = mutable.LinkedHashMap.empty[String, String]

    def runPass(idx: Int): Unit = {
      val cold = idx == 0
      val pass = s"p$idx"
      val outDir = new File(work, s"out/$pass")
      outDir.mkdirs()
      phase.out = outDir.getPath
      val cg0 = WholeStageCodegenExec.codeGenTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      var persistedLeft = 0L
      var cachedPeak = 0L
      val opTimes = mutable.ArrayBuffer.empty[String]
      val tPass0 = System.nanoTime()
      tr.span("pass", pass) {
        for (op <- opList) {
          val group = s"$pass/${op.name}"
          sc.setJobGroup(group, op.name)
          s.plans.foreach(_.group = group)
          val target = op.target(outDir.getPath)
          val t0 = System.nanoTime()
          val ok =
            try {
              tr.span("op", op.name) {
                if (c.trace) phase.within("route")(tr.span("route", target)(s.wkf.byName(target)))
                val res = phase.within(if (op.writes) "write" else "build") {
                  tr.span("cell", target)(s.wkf.run(target))
                }
                res match {
                  case df: org.apache.spark.sql.Dataset[_] =>
                    phase.within("execute") {
                      tr.span("execute", op.name) {
                        if (cold) df.write.mode("overwrite").parquet(s"${c.work}/check/${op.dir}")
                        else df.write.format("noop").mode("overwrite").save()
                      }
                    }
                  case _ =>
                }
              }
              true
            } catch {
              case NonFatal(e) =>
                errors.getOrElseUpdate(op.name,
                  s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
                false
            }
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[graftbench] $pass ${op.name} $dt%.3f s${if (ok) "" else " FAILED"}")
          if (c.trace) drain()
          // leak count before clean-up, then release everything so the
          // next operation starts from the same state
          persistedLeft += sc.getPersistentRDDs.size
          cachedPeak = math.max(cachedPeak,
            sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
          spark.catalog.clearCache()
          sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          opTimes += J.obj(Seq("name" -> J.str(op.name), "s" -> J.num(dt), "ok" -> ok.toString) ++
            (if (c.trace) Seq("jobs" -> s.counters.total(group + "|", "jobs").toString,
              "shuffle_write_bytes" -> s.counters.total(group + "|", "shuffle_write_bytes").toString)
            else Nil))
        }
      }
      val wall = (System.nanoTime() - tPass0) / 1e9
      sc.clearJobGroup()
      drain()
      val (files, bytes) = dirStats(outDir)
      val k = s.counters
      val g = pass + "/"
      def ms(ns: Long) = ns / 1e6
      val base = Seq(
        "kind" -> J.str(if (cold) "cold" else "warm"),
        "wall_s" -> J.num(wall),
        "ops" -> J.arr(opTimes),
        "shuffle_write_bytes" -> k.total(g, "shuffle_write_bytes").toString,
        "written_bytes" -> bytes.toString,
        "written_files" -> files.toString,
        "persisted_left" -> persistedLeft.toString,
        "cached_bytes_peak" -> cachedPeak.toString,
        "codegen_ms" -> J.num(ms(WholeStageCodegenExec.codeGenTime - cg0)),
        "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0).toString)
      val layers = if (!c.trace) Nil else {
        val mine = tr.done.filter(sp => sp.t0 >= tPass0)
        val cells = mine.filter(_.kind == "cell")
        def selfNs(sp: Span) = sp.ns - sp.childNs
        val (writeCells, buildCells) = cells.partition(sp => phase.writes(sp.name))
        val p = s.plans.get
        val execPh = Set("execute")
        Seq(
          "core.route_ms" -> J.num(ms(mine.filter(_.kind == "route").map(_.ns).sum)),
          "core.resolve_ms" -> J.num(ms(cells.map(sp => selfNs(sp) - sp.fnNs).sum)),
          "core.resolve_jobs" -> k.total(g, "jobs", Set("build", "write")).toString,
          "operators.build_s" -> J.num(buildCells.map(_.fnNs).sum / 1e9),
          "operators.build_jobs" -> k.total(g, "jobs", Set("build")).toString,
          "operators.build_tasks" -> k.total(g, "tasks", Set("build")).toString,
          "operators.build_result_mb" -> J.num(k.total(g, "result_bytes", Set("build")) / 1e6),
          "sources.load_jobs" -> k.total(g, "load_jobs").toString,
          "sources.input_mb" -> J.num(k.total(g, "input_bytes") / 1e6),
          "sources.input_rows" -> k.total(g, "input_rows").toString,
          "plan.optimization_ms" -> p.total(g, "optimization_ms").toString,
          "plan.planning_ms" -> p.total(g, "planning_ms").toString,
          "plan.nodes" -> p.total(g, "nodes").toString,
          "plan.exchanges" -> p.total(g, "exchanges").toString,
          "exec.s" -> J.num(mine.filter(_.kind == "execute").map(_.ns).sum / 1e9),
          "exec.jobs" -> k.total(g, "jobs", execPh).toString,
          "exec.stages" -> k.total(g, "stages").toString,
          "exec.tasks" -> k.total(g, "tasks").toString,
          "exec.task_run_ms" -> k.total(g, "run_ms").toString,
          "exec.task_cpu_ms" -> J.num(k.total(g, "cpu_ns") / 1e6),
          "exec.gc_ms" -> k.total(g, "gc_ms").toString,
          "exec.idle_slot_ms" -> J.num(
            c.cores * ms(mine.filter(_.kind == "op").map(_.ns).sum) - k.total(g, "task_ms")),
          "exec.shuffle_read_mb" -> J.num(k.total(g, "shuffle_read_bytes") / 1e6),
          "exec.spill_mb" -> J.num(k.total(g, "spill_bytes") / 1e6),
          "exec.task_retries" -> k.total(g, "task_failed").toString,
          "sinks.write_s" -> J.num(writeCells.map(_.fnNs).sum / 1e9))
      }
      passes += J.obj(base ++ layers)
      if (!cold) deleteTree(outDir)
    }

    val tMeasure = System.nanoTime()
    runPass(0)
    val tWarm = System.nanoTime()
    var idx = 1
    while (idx == 1 || (System.nanoTime() - tWarm) / 1e9 < c.seconds) {
      runPass(idx)
      idx += 1
    }
    val measured = (System.nanoTime() - tMeasure) / 1e9

    // off the clock: the oracle SQL of every query operation
    if (c.mode == "queries") {
      val oracle = SparkEntry.oracleSql
      val entries = opList.map(_.name.stripPrefix("publish.")).distinct
        .flatMap(q => oracle.get(q).map(sql => q -> J.str(sql)))
      Files.writeString(Paths.get(c.work, "oracle.json"), J.obj(entries))
    }
    if (c.trace) {
      val t0 = tMeasure
      val lines = tr.done.sortBy(_.t0).map { sp =>
        J.obj(Seq("id" -> sp.id.toString, "parent" -> sp.parent.toString, "kind" -> J.str(sp.kind),
          "name" -> J.str(sp.name), "start_ms" -> J.num((sp.t0 - t0) / 1e6),
          "end_ms" -> J.num((sp.t1 - t0) / 1e6), "fn_ms" -> J.num(sp.fnNs / 1e6)))
      }
      Files.writeString(Paths.get(c.work, "spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    val result = J.obj(Seq(
      "setup_s" -> J.num(setup),
      "measured_s" -> J.num(measured),
      "passes" -> J.arr(passes),
      "errors" -> J.obj(errors.map { case (k, v) => k -> J.str(v) })))
    spark.stop()
    println("GRAFTBENCH " + result)
  }
}
