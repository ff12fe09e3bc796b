package graft.tools

import java.util.concurrent.atomic.AtomicLong

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Inspection CLI over the declared queries ([[SparkEntry.queries]]):
  *
  * {{{
  * runMain graft.tools.Inspect <command> [query ...]
  *   plan     formatted explain (the plan before execution)
  *   exec     run the query, then print the final adaptive plan
  *   census   one warm run, then one timed run: wall seconds, jobs, stages,
  *            tasks and shuffle-write bytes, plus the jobs that ran while
  *            the DataFrame was being built (eager pins, collects)
  *   schema   output schema per query; with no names, then the counts
  *            of declared queries and oracle SQL entries
  *   dupscan  executed plans reading one file twice with the same schema
  *            and filters (the stream gates are skipped)
  * }}}
  *
  * No query names means every declared query. The session is the one
  * Bench and Verify use (`GraftSession.local`), sized by
  * `SPARK_GRAFT_CPUS` (default: all cores) over the tables in
  * `SPARK_GRAFT_SF_DIR` (default sf0.1), so the plans printed are the plans
  * Bench runs. Everything goes to stdout; redirect it to keep a snapshot
  * (e.g. under `plans/<round>/`). `schema` and `dupscan` build every query,
  * stream-gate drains included: point them at sf0.001 for a quick scan. */
object Inspect {
  private val usage =
    "usage: graft.tools.Inspect plan|exec|census|schema|dupscan [query ...]"

  def main(args: Array[String]): Unit = {
    val (cmd, names) = args.toList match {
      case c :: rest if Set("plan", "exec", "census", "schema", "dupscan")(c) => (c, rest)
      case _ => System.err.println(usage); sys.exit(2)
    }
    names.filterNot(SparkEntry.queries.contains).foreach(n => sys.error(s"no query named $n"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = GraftSession.local(cpus, "graft-inspect")
    spark.sparkContext.setLogLevel("ERROR")
    val queries = (if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names)
      .map(n => n -> (() => SparkEntry.queries(n)(spark, sfDir)))
    try cmd match {
      case "plan" => queries.foreach { case (name, build) =>
        println(s"######## $name ########")
        println(build().queryExecution.explainString(FormattedMode))
      }
      case "exec" => queries.foreach { case (name, build) =>
        println(s"######## $name (final adaptive plan) ########")
        println(finalPlan(build()))
      }
      case "census" => census(spark, queries)
      case "schema" =>
        queries.foreach { case (name, build) =>
          val s =
            try build().schema.fields
              .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
            catch { case e: Throwable => s"ERR ${e.getClass.getSimpleName}" }
          println(s"""SCHEMA {"name": "$name", "schema": "$s"}""")
        }
        // four oracles are derived from state their query builds in this
        // JVM, so the counts are complete only after every query was built
        if (names.isEmpty) {
          val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
          println(s"queries=${SparkEntry.queries.size} oracles=${SparkEntry.oracleSql.size} " +
            s"without_oracle=${missing.toSeq.sorted.mkString(",")}")
        }
      case "dupscan" =>
        queries.filterNot(_._1.startsWith("q_stream")).foreach { case (name, build) =>
          try dupScan(build()).foreach(line => println(f"DUPSCAN $name%-28s $line"))
          catch { case e: Throwable => println(s"DUPSCAN $name ERR ${e.getClass.getSimpleName}") }
        }
    } finally spark.stop()
  }

  /** Runs `df` as Bench does (`toRdd.count`) and returns the final
    * adaptive plan, without the "Initial Plan" echo (a cached relation's
    * own adaptive plan still prints both). */
  private def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  /** Context-wide job, stage, task and shuffle-write counters, plus the
    * jobs run under the [[action]] job group. Stages are counted at job
    * start, so skipped (reused) stages count too. */
  private final class Counters extends SparkListener {
    val jobs, actionJobs, stages, tasks, shuffleWrite = new AtomicLong
    @volatile private var lastEventNs = System.nanoTime()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); stages.addAndGet(e.stageInfos.size)
      if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == action))
        actionJobs.incrementAndGet()
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lastEventNs = System.nanoTime()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      tasks.addAndGet(e.stageInfo.numTasks)
      shuffleWrite.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      lastEventNs = System.nanoTime()
    }
    /** Listener delivery is asynchronous: wait until it has been quiet for
      * 300 ms, so the counters hold every event of the work just done. */
    def settle(): Unit = while (System.nanoTime() - lastEventNs < 300000000L) Thread.sleep(50)
    def reset(): Unit = Seq(jobs, actionJobs, stages, tasks, shuffleWrite).foreach(_.set(0))
  }

  /** Job group of the timed action. Jobs outside it during the timed run
    * ran while the DataFrame was being built (stream-gate drains run under
    * their own query's group, so they count there too). */
  private val action = "graft-inspect-action"

  private def census(spark: SparkSession, queries: Seq[(String, () => DataFrame)]): Unit = {
    val sc = spark.sparkContext
    val c = new Counters
    sc.addSparkListener(c)
    println(f"${"query"}%-28s ${"total_s"}%7s ${"build_s"}%7s ${"jobs"}%5s " +
      f"${"build_jobs"}%10s ${"stages"}%6s ${"tasks"}%6s ${"shufKB"}%8s")
    queries.foreach { case (name, build) =>
      try {
        build().queryExecution.toRdd.count() // warm
        c.settle(); c.reset()
        val t0 = System.nanoTime()
        val df = build()
        val t1 = System.nanoTime()
        sc.setJobGroup(action, name)
        try df.queryExecution.toRdd.count() finally sc.clearJobGroup()
        val t2 = System.nanoTime()
        c.settle()
        println(f"$name%-28s ${(t2 - t0) / 1e9}%7.2f ${(t1 - t0) / 1e9}%7.2f ${c.jobs.get}%5d " +
          f"${c.jobs.get - c.actionJobs.get}%10d ${c.stages.get}%6d ${c.tasks.get}%6d " +
          f"${c.shuffleWrite.get / 1024}%8d")
      } catch { case e: Throwable =>
        println(s"$name FAILED: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    sc.removeSparkListener(c)
  }

  /** Groups of file scans in the executed plan that read the same path
    * with the same schema and data filters: places where a forked
    * DataFrame re-executes its upstream. Iterative pins re-read on
    * purpose, so this is evidence, not a verdict. */
  private def dupScan(df: DataFrame): Option[String] = {
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan
    def walk(n: SparkPlan): Seq[FileSourceScanExec] = (n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(walk)
    }) ++ n.subqueries.flatMap(walk)
    val scans = walk(plan)
    val dups = scans.groupBy(s => (s.relation.location.rootPaths.mkString(","),
        s.requiredSchema.simpleString, s.dataFilters.map(_.sql).sorted.mkString("&")))
      .filter(_._2.size > 1)
    val reused = "ReusedExchange".r.findAllIn(plan.toString).size
    if (dups.isEmpty) None
    else Some(f"scans=${scans.size}%2d dupGroups=${dups.size} " +
      f"dupScans=${dups.values.map(_.size).sum} reused=$reused " +
      dups.keys.map(k => k._1.split("/").last + ":" + k._2.take(60)).mkString(" | "))
  }
}
