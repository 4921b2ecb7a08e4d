package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.actions.ActionSink
import graft.core.CacheRegistry
import graft.etl.{BronzeIngest, GoldBuild, Pipeline, PipelineConfig, RunReport, SilverScd2}
import graft.sources.{BucketedTableStore, LandingSource, TableConfig}

/** Benchmark main: runs one workload against the program's public
  * functions and writes raw timings, counters, spans and the exports the
  * output checks need to one JSON file. `run.py` builds this, runs it and
  * turns the file into the benchmark's result line.
  *
  * Arguments are `key=value` pairs: workload, trace (0|1), seconds, work
  * (scratch root), cpus, out (JSON path), and per workload the inputs
  * `run.py` generated (landing fixtures or star tables, query order).
  * Workload `train` is the build's: it writes the post-first-load base
  * state the `etl_incremental` runs restore, then runs a few queries, so
  * the class-data-sharing archive it records covers both workloads.
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val work = a("work")
    val cpus = a("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val out = mutable.LinkedHashMap[String, Any](
      "session_s" -> (System.currentTimeMillis() - jvmStart) / 1e3)
    val ctx = new Ctx(spark, a, new Tracer(a("trace") == "1"), out)
    out("session_cpu_s") = ctx.cpuS
    if (ctx.tracer.enabled) spark.sparkContext.addSparkListener(ctx.counters)
    try a("workload") match {
      case "etl_incremental" => new EtlBench(ctx).run()
      case "query_mix" => new QueryBench(ctx).run()
      case "train" => new EtlBench(ctx).buildBase(); new QueryBench(ctx).run()
    } catch { case e: Throwable =>
      out("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
      e.printStackTrace()
    } finally {
      out("run_id") = ctx.tracer.runId
      out("ops") = ctx.ops
      out("errors") = ctx.errors
      Files.writeString(Paths.get(a("out")), Json(out))
      spark.stop()
    }
  }
}

/** What every workload shares: the session, its arguments, the tracer and
  * counters, timing helpers and the output map. */
final class Ctx(val spark: SparkSession, val args: Map[String, String],
                val tracer: Tracer, val out: mutable.LinkedHashMap[String, Any]) {
  val sc = spark.sparkContext
  val counters = new LayerCounters
  val work: String = args("work")
  val seconds: Double = args("seconds").toDouble
  val ops = mutable.LinkedHashMap("attempted" -> 0L, "failed" -> 0L)
  val errors = mutable.ArrayBuffer.empty[String]
  val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the whole JVM has used so far (all threads). */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU seconds used so far, split by who used them: the driver's main
    * thread, Spark's task threads, the other live Java threads, and the
    * whole process (whose rest is JIT compilation, GC and ended threads). */
  def cpuSplit: Map[String, Double] = {
    val ids = threads.getAllThreadIds
    val byGroup = ids.zip(threads.getThreadInfo(ids)).collect { case (id, i) if i != null =>
      val g = if (i.getThreadName == "main") "main"
        else if (i.getThreadName.startsWith("Executor task launch")) "tasks" else "java_other"
      g -> math.max(0L, threads.getThreadCpuTime(id)) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
    Map("main" -> 0.0, "tasks" -> 0.0, "java_other" -> 0.0) ++ byGroup + ("process" -> cpuS)
  }

  def cpuSince(before: Map[String, Double]): Map[String, Double] = {
    val now = cpuSplit
    now.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
  }

  /** `body`'s result, wall seconds and JVM CPU seconds. */
  def measure[A](body: => A): (A, Double, Double) = {
    val c0 = cpuS
    val (r, s) = secs(body)
    (r, s, cpuS - c0)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def op(ok: Boolean, what: => String): Unit = {
    ops("attempted") += 1
    if (!ok) { ops("failed") += 1; errors += what }
  }

  def layer[A](name: String)(body: => A): A =
    if (tracer.on) tracer.span(name)(LayerCounters.within(sc, name.takeWhile(_ != '/'))(body))
    else body

  /** One traced unit of work: spans on, counters and heap peak reset
    * before and read after. */
  def traced[A](body: => A): (A, Map[String, Any]) = {
    LayerCounters.drain(sc)
    counters.reset()
    heapPools.foreach(_.resetPeakUsage())
    counters.active = true
    tracer.on = true
    val r = try body finally {
      tracer.on = false
      LayerCounters.drain(sc)
      counters.active = false
    }
    val heap = heapPools.map(_.getPeakUsage.getUsed).sum
    val snap = counters.synchronized {
      counters.byLayer.map { case (l, c) => l -> Map(
        "jobs" -> c.jobs, "tasks" -> c.tasks, "cpu_s" -> c.cpuNs / 1e9,
        "gc_s" -> c.gcMs / 1e3, "shuffle_read" -> c.shuffleRead,
        "shuffle_write" -> c.shuffleWrite, "spill" -> c.spill,
        "bytes_read" -> c.bytesRead, "bytes_written" -> c.bytesWritten,
        "records_written" -> c.recordsWritten, "peak_exec_mem" -> c.peakExecMem)
      }.toMap
    }
    (r, Map("layers" -> snap, "peak_heap" -> heap))
  }
}

object Files2 {
  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally s.close()
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }
}

/** The new-customer side channel, timed: delivery collects the records on
  * the driver, like the program's collecting sink. */
final class TimingSink(ctx: Ctx) extends ActionSink {
  var deliverS = 0.0
  val delivered = mutable.ArrayBuffer.empty[Seq[String]]
  override def deliver(records: DataFrame): Unit = {
    val (rows, s) = ctx.secs(ctx.layer("sink")(records.collect()))
    deliverS += s
    rows.foreach(r => delivered += Seq(r.getAs[Any]("Name"), r.getAs[Any]("Email")).map(String.valueOf))
  }
}

/** etl_incremental: incremental `Pipeline.run`s over landed CSV drops,
  * each against the post-first-load state the build wrote. */
final class EtlBench(ctx: Ctx) {
  import ctx.{args, out, spark}

  private val arm = args.getOrElse("arm", "default")
  private val fixtures = Paths.get(args("landing"))
  private val drops = args("drops").toInt
  private val tables: Seq[TableConfig] = args("tables").split(";").toSeq.map { t =>
    val f = t.split(":")
    TableConfig(f(0), f(1), typeOverrides = f.drop(2).map(_ -> "decimal(12,2)").toMap)
  }
  private val sink = new TimingSink(ctx)

  private def ts(step: Int) = new Timestamp(Timestamp.valueOf("2026-01-01 00:00:00").getTime +
    step * 86400000L)

  private def config(root: Path): PipelineConfig = PipelineConfig(
    s"$root/landing", s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/state",
    tables,
    silverBuckets = if (arm == "buckets") Some(4) else None,
    silverDatabase = "perfbench_silver",
    streamingBronze = arm == "streaming")

  /** Replace the landing zone with one step's files (the ADF copy). */
  private def land(step: String, root: Path): Unit = {
    Files2.delete(root.resolve("landing"))
    Files2.copy(fixtures.resolve(step), root.resolve("landing"))
  }

  /** Gold's fact: the current Silver slices joined into the reference's
    * fact_order_details vocabulary (3_Silver_to_Gold.py), priced at each
    * product's current price. */
  private def fact(pipe: Pipeline)(s: SparkSession): DataFrame = {
    def cur(t: String, cols: Column*) = pipe.silverTable(t).where(col("is_current")).select(cols: _*)
    val dec = (c: String) => col(c).cast("decimal(12,2)")
    cur("OrderItems", col("OrderItemID"), col("OrderID"), col("ProductID"),
        col("SellerID"), col("Quantity"), col("ReturnFlag"))
      .join(cur("Orders", col("OrderID"), col("CustomerID"), col("OrderDate")), "OrderID")
      .join(cur("Customers", col("CustomerID"), col("Name").as("CustomerName")), "CustomerID")
      .join(cur("Products", col("ProductID"), col("Name").as("ProductName"),
        col("Brand").as("CategoryName"), col("Price")), "ProductID")
      .join(cur("Sellers", col("SellerID"), col("Name").as("SellerName")), "SellerID")
      .select(col("OrderID"), col("OrderItemID"), col("CustomerID"), col("CustomerName"),
        col("ProductID"), col("ProductName"), col("CategoryName"), col("SellerID"),
        col("SellerName"),
        when(col("ReturnFlag") === "N", "Delivered").when(col("ReturnFlag") === "A", "Cancelled")
          .otherwise("Returned").as("StatusName"),
        dec("Quantity").as("Quantity"), dec("Price").as("CurrentPrice"),
        (dec("Quantity") * dec("Price")).as("TotalAmount"), col("OrderDate"))
  }

  /** `Pipeline.run`, step for step, with a span and a counter scope around
    * each layer call — the traced twin of the untraced run. */
  private def tracedRun(pipe: Pipeline, c: PipelineConfig, runTs: Timestamp): RunReport =
    ctx.tracer.span("pipeline") {
      val landing = new LandingSource(spark, c.landingRoot)
      val overrides = c.tables.map(t => t.name -> t.typeOverrides).toMap
      val bronze = ctx.layer("bronze") {
        if (c.streamingBronze)
          BronzeIngest.runStreaming(landing, pipe.store, c.bronzeRoot, runTs,
            s"${c.stateRoot}/bronze_checkpoints", overrides.getOrElse(_, Map.empty))
        else BronzeIngest.run(landing, pipe.store, c.bronzeRoot, runTs,
          overrides.getOrElse(_, Map.empty))
      }
      val bucketed = c.silverBuckets.map(n => new BucketedTableStore(spark, c.silverDatabase, n))
      val silver = c.tables.filter(_.active).map { tc =>
        ctx.layer(s"silver/${tc.name}") {
          SilverScd2.run(pipe.store, pipe.watermarks, c.bronzeRoot, c.silverRoot, tc, runTs,
            sink, c.sideChannelTable, c.sideChannelCols, bucketed)
        }
      }
      val gold = ctx.layer("gold")(GoldBuild.run(spark, pipe.store, c.goldRoot, fact(pipe)(spark)))
      RunReport(bronze, silver, Some(gold))
    }

  private val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val setupReps = mutable.ArrayBuffer.empty[Double]

  /** One timed pipeline run, traced or not; returns its seconds, or None
    * when it failed. */
  private def timedRun(pipe: Pipeline, c: PipelineConfig, step: String, stepNo: Int,
                       traced: Boolean): Option[Double] = {
    val sinkBefore = (sink.deliverS, sink.delivered.size)
    val spansBefore = ctx.tracer.spans.size
    val split0 = ctx.cpuSplit
    val attempt = scala.util.Try {
      if (traced) {
        val ((rep, s, cpu), counts) = ctx.traced(ctx.measure(tracedRun(pipe, c, ts(stepNo))))
        (rep, s, cpu, counts)
      } else {
        val (rep, s, cpu) = ctx.measure(pipe.run(ts(stepNo), Some(fact(pipe))))
        (rep, s, cpu, Map.empty[String, Any])
      }
    }
    attempt match {
      case scala.util.Success((rep, s, cpu, counts)) =>
        val split = ctx.cpuSince(split0)
        rep.bronze.foreach(b => ctx.op(b.rows >= 0, s"bronze ${b.table}: ${b.action}"))
        rep.silver.foreach(_ => ctx.op(true, ""))
        val marts = rep.gold.map(_.marts).getOrElse(Map.empty)
        ctx.op(marts.size == 7, s"gold wrote ${marts.size} of 7 marts")
        marts.foreach(_ => ctx.op(true, ""))
        runs += Map(
          "step" -> step, "traced" -> traced, "s" -> s, "cpu_s" -> cpu, "cpu_split" -> split,
          "bronze" -> rep.bronze.map(b => Map("table" -> b.table, "rows" -> b.rows, "action" -> b.action)),
          "silver" -> rep.silver.map(r => Map("table" -> r.table, "staged" -> r.staged, "action" -> r.action)),
          "gold_rows" -> marts.values.sum,
          "sink_s" -> (sink.deliverS - sinkBefore._1),
          "sink_rows" -> (sink.delivered.size - sinkBefore._2),
          "spans" -> ctx.tracer.since(spansBefore), "counters" -> counts)
        Some(s)
      case scala.util.Failure(e) =>
        ctx.op(false, s"pipeline run $step: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        None
    }
  }

  /** The stores a pipeline run reads and writes; together they are the
    * state a first load leaves behind. */
  private val stateDirs = Seq("bronze", "silver", "gold", "state")

  /** Build step: a first load of the seed-independent base landing, whose
    * stores every `etl_incremental` run restores instead of loading again. */
  def buildBase(): Unit = {
    val root = Paths.get(args("base"))
    Files2.delete(root)
    val pipe = new Pipeline(spark, config(root), sink)
    land("initial", root)
    if (timedRun(pipe, config(root), "initial", 0, traced = false).isEmpty)
      throw new IllegalStateException(s"base first load failed: ${ctx.errors.mkString("; ")}")
    Files2.delete(root.resolve("landing"))
    out("runs") = runs
  }

  /** Set-up restores the base state (the default pipeline; an opt-in arm
    * keeps its own layout, so it runs its first load instead) and lands
    * each drop, untimed. The timed region is the incremental runs, one per
    * drop, until the time is up, at least one. A traced process traces
    * every run. */
  def run(): Unit = {
    val root = Paths.get(ctx.work, "etl")
    val conf = config(root)
    val pipe = new Pipeline(spark, conf, sink)
    out("restore_cpu_s") = ctx.measure {
      if (arm == "default")
        stateDirs.foreach(d => Files2.copy(Paths.get(args("base"), d), root.resolve(d)))
      else { land("initial", root); pipe.run(ts(0), Some(fact(pipe))) }
    }._3
    val t0 = System.nanoTime()
    var last: Option[Double] = None
    var d = 1
    while (d <= drops && (d == 1 || last.isDefined && (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
      setupReps += ctx.measure(land(s"drop$d", root))._3
      last = timedRun(pipe, conf, s"drop$d", d, ctx.tracer.enabled)
      d += 1
    }
    out("runs") = runs
    out("setup_cpu_reps") = setupReps
    out("arm") = arm
    exportChecks(pipe)
  }

  /** Untimed: the final state's Silver history and Gold marts as parquet
    * for the DuckDB checks, plus what the sink received. */
  private def exportChecks(pipe: Pipeline): Unit = {
    val check = Paths.get(ctx.work, "check")
    tables.foreach(t => pipe.silverTable(t.name).drop("source_file")
      .write.parquet(check.resolve(s"silver/${t.name}").toString))
    Seq("fact_order_details", "seller_performance_daily", "seller_performance_monthly",
      "seller_performance_quarterly", "order_rates", "seller_segmentation",
      "customer_analytics").foreach(m =>
      pipe.goldTable(m).write.parquet(check.resolve(s"gold/$m").toString))
    out("sink_delivered") = sink.delivered.toSeq
    out("check_dir") = check.toString
  }
}

/** query_mix: registered queries, each fully materialized through a noop
  * sink, over read-only star tables. */
final class QueryBench(ctx: Ctx) {
  import ctx.{args, out, spark}

  private val dir = args("star")
  private val names: Seq[String] = args("queries").split(",").toSeq
  private val registered = SparkEntry.queries

  private def persistedIds: Set[Int] = ctx.sc.getPersistentRDDs.keySet.toSet

  /** One pass over the mix: warm the consumed artifacts, then time each
    * query and release every artifact whose last consumer has run. */
  private def pass(traced: Boolean): Map[String, Any] = {
    val (warm, warmS, warmCpu) = ctx.measure(SparkEntry.warmCachesFor(spark, dir, names))
    val times = mutable.LinkedHashMap.empty[String, Double]
    val plan = mutable.LinkedHashMap.empty[String, Double]
    var cpu = 0.0
    val shapes = mutable.LinkedHashMap.empty[String, Any]
    var timedBuilds = 0
    val pending = mutable.Queue(names: _*)
    val spansBefore = ctx.tracer.spans.size
    val body = () => names.foreach { name =>
      val before = persistedIds
      val c0 = ctx.cpuS
      val r = scala.util.Try(CacheRegistry.scoped {
        val (df, p, e) = ctx.tracer.span(s"query/$name") {
          val (df, p) = ctx.secs(ctx.layer("query.plan")(registered(name)(spark, dir)))
          val (_, e) = ctx.secs(ctx.layer("query.exec")(
            df.write.format("noop").mode("overwrite").save()))
          (df, p, e)
        }
        cpu += ctx.cpuS - c0
        if (traced) shapes(name) = planShape(df)
        (p, e)
      })
      CacheRegistry.drain()
      timedBuilds += (persistedIds -- before).size
      pending.dequeue()
      SparkEntry.releaseSpentCaches(spark, dir, pending)
      r match {
        case scala.util.Success((p, e)) =>
          ctx.log(f"$name%-32s plan $p%.3f s exec $e%.3f s")
          ctx.op(true, ""); times(name) = p + e; plan(name) = p
        case scala.util.Failure(e) =>
          ctx.op(false, s"$name: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    val split0 = ctx.cpuSplit
    val c =
      if (!traced) { body(); Map.empty[String, Any] }
      else {
        spark.listenerManager.register(lastWrite)
        try ctx.traced(body())._2 finally spark.listenerManager.unregister(lastWrite)
      }
    val split = ctx.cpuSince(split0)
    SparkEntry.clearCaches(spark)
    Map("traced" -> traced, "warm_s" -> warmS, "warm_cpu_s" -> warmCpu, "cpu_s" -> cpu,
      "cpu_split" -> split,
      "warm" -> warm.toMap, "times" -> times,
      "plan" -> plan, "timed_builds" -> timedBuilds, "counters" -> c,
      "spans" -> ctx.tracer.since(spansBefore), "plan_shapes" -> shapes)
  }

  /** The last finished execution: after a timed query, its noop write. */
  private val lastWrite = new org.apache.spark.sql.util.QueryExecutionListener {
    @volatile var qe: org.apache.spark.sql.execution.QueryExecution = _
    def onSuccess(f: String, q: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
      qe = q
    def onFailure(f: String, q: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  /** Self-test data for the timed action: the Join / Aggregate / Window
    * counts of the query's optimized plan and of the plan the noop write
    * executed (a `count()` would let Catalyst prune some of them). */
  private def planShape(df: DataFrame): Map[String, Any] = {
    LayerCounters.drain(ctx.sc)
    val optimized = PlanShape.optimized(df.queryExecution.optimizedPlan)
    val executed = PlanShape.executed(lastWrite.qe.executedPlan)
    Map("optimized" -> optimized, "executed" -> executed,
      "ok" -> optimized.forall { case (k, n) => executed.getOrElse(k, 0) >= n })
  }

  /** Passes run until the time is up, at least one; a traced process
    * traces every pass. The results of the queries named in `check` are
    * then written, untimed, for the DuckDB compare. */
  def run(): Unit = {
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var lastS = 0.0
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 + lastS <= ctx.seconds) {
      val (p, s) = ctx.secs(pass(ctx.tracer.enabled))
      passes += p
      lastS = s
    }
    out("passes") = passes
    val check = Paths.get(ctx.work, "check")
    val toCheck = args("check").split(",").toSeq.filter(_.nonEmpty)
    out("oracle") = toCheck.map(n => n -> SparkEntry.oracleSql(n)).toMap
    toCheck.foreach { n =>
      scala.util.Try(CacheRegistry.scoped(registered(n)(spark, dir).coalesce(1)
        .write.parquet(check.resolve(n).toString)))
      CacheRegistry.drain()
    }
    SparkEntry.clearCaches(spark)
    out("check_dir") = check.toString
  }
}

/** Join / Aggregate / Window counts of a plan, subqueries included. */
object PlanShape {
  import org.apache.spark.sql.catalyst.plans.logical
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

  def optimized(p: logical.LogicalPlan): Map[String, Int] = {
    val nodes = p.collectWithSubqueries { case n => n }
    Map("join" -> nodes.count(_.isInstanceOf[logical.Join]),
      "aggregate" -> nodes.count(_.isInstanceOf[logical.Aggregate]),
      "window" -> nodes.count(_.isInstanceOf[logical.Window]))
  }

  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case r: ReusedExchangeExec => walk(r.child)
    case r: ReusedSubqueryExec => walk(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }

  def executed(p: SparkPlan): Map[String, Int] = {
    val nodes = walk(p)
    Map("join" -> nodes.count(_.isInstanceOf[joins.BaseJoinExec]),
      "aggregate" -> nodes.count(_.isInstanceOf[aggregate.BaseAggregateExec]),
      "window" -> nodes.count(_.isInstanceOf[window.WindowExecBase]))
  }
}

object Json {
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => q(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case other => q(other.toString)
  }
}
