package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import graft.SparkEntry
import graft.ops.Console
import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** Engine side of the benchmark: one JVM on `local[cores]`, driven by a
  * plan file that `run.py` writes. It times calls into the engine's public
  * entry points only, and writes what it measured to the plan's `result`
  * path for `run.py` to check and summarise.
  *
  *   java ... perfbench.Engine <plan.json> <cores>
  */
object Engine {
  val json = new ObjectMapper().registerModule(DefaultScalaModule)

  type Plan = Map[String, Any]

  /** The session starts before the plan exists: run.py writes the plan
    * while this JVM starts, and both count towards set-up time. */
  def main(args: Array[String]): Unit = {
    val (spark, sessionMs) = session(args(1).toInt)
    val planFile = Paths.get(args(0))
    while (!Files.exists(planFile)) Thread.sleep(20)
    val plan = json.readValue(planFile.toFile, classOf[Map[String, Any]])
    val result = plan("mode") match {
      case "batch" => Batch(plan).run(spark)
      case "stream" => Stream(plan).run(spark)
    }
    Files.writeString(Paths.get(plan("result").toString),
      json.writeValueAsString(result + ("session_ms" -> sessionMs)))
  }

  def int(p: Plan, k: String): Int = p(k).asInstanceOf[Number].intValue
  def str(p: Plan, k: String): String = p(k).toString
  def flag(p: Plan, k: String): Boolean = p.get(k).exists(v => v == true || v == 1)

  def ms(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e6

  def session(cores: Int): (SparkSession, Double) = {
    val t = System.nanoTime()
    val s = GraftSession.local(cores, "perfbench")
    val took = ms(t, System.nanoTime())
    s.sparkContext.setLogLevel("WARN")
    (s, took)
  }

  /** VmHWM of this JVM, in kB. */
  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def spin(iters: Long): Long = {
    var x = 0x9E3779B97F4A7C15L; var i = 0L
    while (i < iters) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 33; i += 1 }
    x
  }

  /** One random cycle through 8M slots (Sattolo's shuffle), so each step
    * of `chase` is a dependent load that misses the caches. */
  private lazy val chaseTable: Array[Int] = {
    val next = Array.range(0, 1 << 23)
    val rnd = new java.util.Random(7)
    var i = next.length - 1
    while (i > 0) { val j = rnd.nextInt(i); val t = next(i); next(i) = next(j); next(j) = t; i -= 1 }
    next
  }

  def chase(steps: Int): Long = {
    val next = chaseTable
    var at = 0; var i = 0
    while (i < steps) { at = next(at); i += 1 }
    at.toLong
  }

  /** Time of a fixed random walk through a 32 MB table, in ms: the host's
    * memory speed at this moment. Shared hosts vary in it by 10-20% from
    * minute to minute, and batch latencies follow it. */
  def probe(): Double = {
    val t = System.nanoTime()
    val at = chase(50000)
    val took = ms(t, System.nanoTime())
    if (at == -1L) System.err.print("") // uses the walk's result, so it is not elided
    took
  }

  /** Host-speed calibration in the manner of graft.Bench: a fixed
    * loop-carried integer spin, serial and on every core, median of three. */
  def calibrate(): Map[String, Double] = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    sink.addAndGet(spin(20000000L))
    def med3(f: () => Double) = Seq.fill(3)(f()).sorted.apply(1)
    val serial = med3 { () =>
      val t = System.nanoTime(); sink.addAndGet(spin(50000000L)); ms(t, System.nanoTime())
    }
    val n = Runtime.getRuntime.availableProcessors()
    val par = med3 { () =>
      val t = System.nanoTime()
      val ts = (1 to n).map(_ => new Thread(() => { sink.addAndGet(spin(50000000L / n)); () }))
      ts.foreach(_.start()); ts.foreach(_.join())
      ms(t, System.nanoTime())
    }
    Map("spin_serial_ms" -> serial, "spin_parallel_ms" -> par, "sink" -> (sink.get & 1L).toDouble)
  }

  /** Process CPU, GC and JIT time so far, in ms: read before and after the
    * timed region to tell a slower host from more work in the JVM. */
  def jvmTimes(): Map[String, Double] = {
    import java.lang.management.ManagementFactory
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map("cpu_ms" -> os.getProcessCpuTime / 1e6,
      "gc_ms" -> gcs.map(_.getCollectionTime).sum.toDouble,
      "gc_count" -> gcs.map(_.getCollectionCount).sum.toDouble,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }

  def spanJson(s: Span): Map[String, Any] =
    Map("trace" -> s.trace, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
}

/** Closed loop over a list of batch operations: declared queries run by
  * `SparkEntry.queries(name)` and RainStorm console lines run by
  * `Console.run`, each executed with `queryExecution.toRdd.count()` as
  * graft.Bench does. */
final case class Batch(plan: Engine.Plan) {
  import Engine._

  private val dataDir = str(plan, "data")
  private val ops: Seq[Map[String, Any]] = plan("ops").asInstanceOf[Seq[Map[String, Any]]]
  private val orders: Seq[Seq[Int]] =
    plan("orders").asInstanceOf[Seq[Seq[Any]]].map(_.map(_.asInstanceOf[Number].intValue))
  private val trace = flag(plan, "trace")
  private val spans = ArrayBuffer.empty[Span]

  private def build(spark: SparkSession, op: Map[String, Any]): DataFrame =
    op.get("line").collect { case l: String => l } match {
      case Some(line) => Console.run(spark, line)
      case None => SparkEntry.queries(op("name").toString)(spark, dataDir)
    }

  /** One execution: construct, plan, execute. With `census`, each phase
    * runs under its own job group and is recorded as a span. */
  private def execute(spark: SparkSession, op: Map[String, Any], id: String,
                      census: Option[Census]): Map[String, Any] = {
    val sc = spark.sparkContext
    def phase[T](name: String)(f: => T): (T, Long, Long) = {
      if (census.isDefined) sc.setJobGroup(s"$id|$name", op("name").toString)
      val a = System.nanoTime()
      val r = f
      val b = System.nanoTime()
      if (census.isDefined) spans += Span(id, name, "query", a, b)
      (r, a, b)
    }
    val t0 = System.nanoTime()
    try {
      val (df, _, c1) = phase("construct")(build(spark, op))
      val (_, _, p1) = phase("plan")(df.queryExecution.executedPlan)
      val (rows, _, x1) = phase("execute")(df.queryExecution.toRdd.count())
      if (census.isDefined) { spans += Span(id, "query", "", t0, x1); sc.clearJobGroup() }
      val tracker = df.queryExecution.tracker.phases.values.map(_.durationMs).sum
      Map("name" -> op("name"), "construct_ms" -> ms(t0, c1), "plan_ms" -> ms(c1, p1),
        "exec_ms" -> ms(p1, x1), "total_ms" -> ms(t0, x1), "tracker_plan_ms" -> tracker,
        "rows" -> rows)
    } catch {
      case e: Exception =>
        if (census.isDefined) sc.clearJobGroup()
        Map("name" -> op("name"), "total_ms" -> ms(t0, System.nanoTime()),
          "error" -> e.toString.take(400))
    }
  }

  /** Timed passes until `seconds` have elapsed or `maxPasses` are done.
    * Returns the executions and the wall time of each pass. */
  private def loop(spark: SparkSession, seconds: Double, census: Option[Census],
                   tracedPass: Int => Boolean, tag: String, maxPasses: Int = Int.MaxValue)
      : (Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
    val execs = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val deadline =
      if (seconds.isInfinite) Long.MaxValue else System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    while (p < maxPasses && System.nanoTime() < deadline) {
      val order = orders(p % orders.size)
      val traced = census.isDefined && tracedPass(p)
      census.foreach { c =>
        if (traced) spark.sparkContext.addSparkListener(c) else detach(spark, c)
      }
      val a = System.nanoTime()
      var done = 0
      while (done < order.size && System.nanoTime() < deadline) {
        val op = ops(order(done))
        val chaseMs = probe()
        execs += execute(spark, op, s"$tag$p.$done", if (traced) census else None) ++
          Map("pass" -> p, "traced" -> traced, "chase_ms" -> chaseMs)
        done += 1
      }
      passes += Map("pass" -> p, "ms" -> ms(a, System.nanoTime()),
        "complete" -> (done == order.size), "traced" -> traced)
      p += 1
    }
    census.foreach(detach(spark, _))
    (execs.toSeq, passes.toSeq)
  }

  /** Deliver every queued event to the census, then stop feeding it. */
  private def detach(spark: SparkSession, c: Census): Unit = {
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(c)
  }

  def run(spark: SparkSession): Map[String, Any] = {
    // Warm-up and check pass: every operation once, its full result
    // written for the checker. It fills the codegen and schema caches.
    val checkDir = str(plan, "check_dir")
    val warm = ops.map { op =>
      val t = System.nanoTime()
      val err = try {
        build(spark, op).write.mode("overwrite").parquet(s"$checkDir/${op("name")}")
        None
      } catch { case e: Exception => Some(e.toString.take(400)) }
      Map("name" -> op("name"), "ms" -> ms(t, System.nanoTime())) ++ err.map("error" -> _)
    }
    val declared = SparkEntry.oracleSql
    val oracle = ops.flatMap(op => declared.get(op("name").toString)
      .map(op("name").toString -> _)).toMap
    val consoleMs = ops.filter(_.get("line").exists(_ != null)).map { op =>
      val t = System.nanoTime(); Console.run(spark, op("line").toString); ms(t, System.nanoTime())
    }
    // Untimed passes before the timed ones: the JIT is still compiling the
    // hot paths for the first dozen or so passes, and how fast it gets there
    // varies from run to run.
    val (warmExecs, _) =
      loop(spark, Double.PositiveInfinity, None, _ => false, "w", int(plan, "warm_passes"))
    val readyMs = System.currentTimeMillis()
    val census = if (trace) Some(new Census("spark.jobGroup.id")) else None
    // traced and untraced passes alternate, so their difference is the
    // tracing overhead
    val seconds = plan("seconds").asInstanceOf[Number].doubleValue
    val jvm0 = jvmTimes()
    val (execs, passes) = loop(spark, seconds, census, _ % 2 == 0, "p")
    val jvm1 = jvmTimes()
    val rssKb = peakRssKb()
    val perPass = census.toSeq.flatMap { c =>
      passes.filter(_("traced") == true).map { pm =>
        val p = pm("pass")
        def in(k: String) = k.startsWith(s"p$p.")
        Map("pass" -> p, "ms" -> pm("ms"), "complete" -> pm("complete"),
          "all" -> c.total(in), "construct" -> c.total(k => in(k) && k.endsWith("|construct")),
          "executions" -> execs.count(_("pass") == p))
      }
    }
    val calib = calibrate()
    val local1 = if (trace) {
      spark.stop()
      val (s1, _) = session(1)
      orders.head.foreach(i => execute(s1, ops(i), "w", None))
      val (e1, p1) = loop(s1, seconds / 2, None, _ => false, "l")
      s1.stop()
      Map("execs" -> e1, "passes" -> p1)
    } else Map.empty[String, Any]
    if (trace) Files.writeString(Paths.get(str(plan, "spans")),
      spans.map(s => json.writeValueAsString(spanJson(s))).mkString("\n"))
    Map("ready_ms" -> readyMs, "console_start_ms" -> consoleMs,
      "warm" -> warm, "warm_execs" -> warmExecs, "oracle" -> oracle, "execs" -> execs,
      "passes" -> passes,
      "census_passes" -> perPass, "callback_ms" -> census.map(_.callbackNs.get / 1e6).getOrElse(0.0),
      "vmhwm_kb" -> rssKb, "calib" -> calib, "local1" -> local1,
      "timed_jvm" -> jvm1.map { case (k, v) => k -> (v - jvm0(k)) })
  }
}

/** The paper's RainStorm pipeline as a stream: `Console.runStream` over a
  * watched directory of CSV files, sharded running count, exactly-once
  * parquet sink. The generator process feeds the directory; this side warms
  * the query, reports ready, and drains and stops it when told on stdin. */
final case class Stream(plan: Engine.Plan) {
  import Engine._

  private val trace = flag(plan, "trace")

  /** Start the pipeline on `dirs`' directories and feed it `files` from
    * `leg`'s staging directory one at a time, each fully committed before
    * the next. Returns the query and the time `Console.runStream` took. */
  private def start(spark: SparkSession, leg: Map[String, Any], dirs: Map[String, Any],
                    files: String, trigger: Trigger): (StreamingQuery, Double) = {
    val watched = str(dirs, "watched")
    val line = s"RAINSTORM COLUMN_FILTER:Category:Warning AGGREGATE $watched ${int(plan, "shards")}"
    val t = System.nanoTime()
    val q = Console.runStream(spark, line, str(dirs, "out"), str(dirs, "ckpt"), trigger)
    val consoleMs = ms(t, System.nanoTime())
    dirs(files).asInstanceOf[Seq[Any]].map(_.toString).foreach { f =>
      Files.move(Paths.get(str(leg, "staging"), f), Paths.get(watched, f),
        StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
    }
    (q, consoleMs)
  }

  /** Commit time of each micro-batch, on the epoch clock at sub-millisecond
    * steps (file mtimes here tick in whole milliseconds). The progress event
    * is posted when the batch's commit is done. */
  private final class Commits extends StreamingQueryListener {
    private val epochNs0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
    private val seen = ArrayBuffer.empty[Seq[Any]]
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      seen.synchronized { seen += Seq(e.progress.batchId, (epochNs0 + System.nanoTime()) / 1e6) }
    def all: Seq[Seq[Any]] = seen.synchronized(seen.toSeq)
  }

  /** Run one leg: start, warm, report ready, then drain and stop when told. */
  private def leg(spark: SparkSession, legPlan: Map[String, Any],
                  census: Option[Census]): Map[String, Any] = {
    // a throwaway copy of the pipeline first, its micro-batches back to
    // back, so that the measured query's triggers run compiled code
    val prewarm = legPlan("prewarm").asInstanceOf[Map[String, Any]]
    val (w, prewarmMs) = start(spark, legPlan, prewarm, "files", Trigger.ProcessingTime(0L))
    w.stop()
    val commits = new Commits
    spark.streams.addListener(commits)
    val (q, consoleMs) = start(spark, legPlan, legPlan, "warm_files",
      Trigger.ProcessingTime(int(plan, "trigger_ms").toLong))
    census.foreach(spark.sparkContext.addSparkListener(_))
    println(s"READY ${System.currentTimeMillis()}")
    scala.Console.out.flush()
    scala.io.StdIn.readLine()
    val t = System.nanoTime()
    q.processAllAvailable()
    val drainMs = ms(t, System.nanoTime())
    q.stop()
    BusDrain(spark.sparkContext)
    census.foreach(spark.sparkContext.removeSparkListener(_))
    spark.streams.removeListener(commits)
    Map("console_start_ms" -> Seq(prewarmMs, consoleMs), "drain_ms" -> drainMs,
      "commits" -> commits.all,
      "progress" -> q.recentProgress.toSeq.map(p => json.readValue(p.json, classOf[Map[String, Any]])))
  }

  def run(spark: SparkSession): Map[String, Any] = {
    val census = if (trace) Some(new Census("streaming.sql.batchId")) else None
    val main = leg(spark, plan("main").asInstanceOf[Map[String, Any]], census)
    val rssKb = peakRssKb()
    val perBatch = census.toSeq.flatMap(_.byKey.keySet.asScala.toSeq.filter(_ != "-")
      .map(k => Map("batch" -> k.toLong) ++ census.get.total(_ == k)))
    val calib = calibrate()
    val local1 = plan.get("local1").collect { case l: Map[_, _] if trace =>
      spark.stop()
      val (s1, _) = session(1)
      val d1 = leg(s1, l.asInstanceOf[Map[String, Any]], None)
      s1.stop()
      d1
    }.getOrElse(Map.empty)
    main ++ Map("callback_ms" -> census.map(_.callbackNs.get / 1e6).getOrElse(0.0),
      "census_batches" -> perBatch, "vmhwm_kb" -> rssKb, "calib" -> calib, "local1" -> local1)
  }
}
