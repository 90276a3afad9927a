package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Dev utility: where one driver query's time and work go, for any named
  * `SparkEntry` query. The benchmark (perfbench) profiles a fixed workload;
  * this profiles whatever query is named.
  *
  * Each query is called twice in the given session: once to warm codegen,
  * then once profiled. The profiled call is split into CONSTRUCTION (the
  * entry function: parquet footer reads and any eager driver work such as
  * guard collects and eager pins), the Catalyst phases of the final frame
  * (`QueryPlanningTracker`) and the ACTION (`toRdd.count`, the bench's
  * action). Every Spark job is attributed to the phase that submitted it,
  * with its stages, tasks, executor CPU, input and shuffle records and
  * spill. Shuffle and input record counts are deterministic for a
  * deterministic plan, so they attribute a change where wall clock cannot.
  * With a plan directory, the formatted physical plan of each query is
  * written to `<dir>/<query>.txt` (the plan-audit artifact).
  *
  * Usage: sbt "runMain graft.tools.ProfileQuery <query> [query...]"
  * (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as the bench;
  * SPARK_GRAFT_EXPLAIN_OUT=<dir> writes the plans). Not part of the driver
  * contract.
  */
object ProfileQuery {

  /** One Spark job of a profiled call. `phase` is "construct" or "act". */
  final case class Job(
      id: Int,
      phase: String,
      seconds: Double,
      stages: Int,
      tasks: Int,
      executorCpuS: Double,
      inputRecords: Long,
      shuffleRecordsWritten: Long,
      shuffleRecordsRead: Long,
      spillBytes: Long,
      description: String)

  final case class QueryProfile(
      query: String,
      constructS: Double,
      /** Catalyst phase name -> seconds, in the order the phases ran. */
      catalystS: Seq[(String, Double)],
      actS: Double,
      jobs: Seq[Job],
      /** Distinct RDDs the call persisted (pins), read from the storage
        * levels its jobs' stages report; whatever is still persisted after
        * the call is released. */
      pins: Int,
      planFile: Option[String]) {
    def jobsIn(phase: String): Seq[Job] = jobs.filter(_.phase == phase)
  }

  private val PhaseKey = "graft.profile.phase"
  private val Drain = "drain"

  /** Attributes jobs, by the phase local property Spark copies into every
    * job the thread (or a thread it starts) submits; untagged jobs are
    * ignored. Also records the persisted RDDs the tagged jobs' stages
    * read or write: `SparkContext.getPersistentRDDs` holds its RDDs by weak
    * reference, so a pin superseded within the call can be collected
    * before it is counted there. */
  private final class JobListener extends SparkListener {
    private final class Rec(val id: Int, val phase: String, val start: Long,
        val description: String) {
      var end = start
      var stages, tasks = 0
      var cpuNs, input, shufW, shufR, spill = 0L
    }
    private val jobs = mutable.LinkedHashMap.empty[Int, Rec]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val persisted = mutable.Set.empty[Int]
    private var drained = false

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).foreach { ph =>
        val desc = Option(e.properties.getProperty("spark.job.description"))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
        jobs(e.jobId) = new Rec(e.jobId, ph, e.time, desc)
        e.stageIds.foreach(stageJob(_) = e.jobId)
        persisted ++= e.stageInfos.flatMap(_.rddInfos).filter(_.storageLevel.isValid).map(_.id)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time
        if (j.phase == Drain) { drained = true; notifyAll() }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
        j.stages += 1
        j.tasks += e.stageInfo.numTasks
        Option(e.stageInfo.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.input += m.inputMetrics.recordsRead
          j.shufW += m.shuffleWriteMetrics.recordsWritten
          j.shufR += m.shuffleReadMetrics.recordsRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    /** Blocks until the bus has delivered the drain job's end — events
      * reach a listener in order, so every earlier job's are in — then
      * returns and forgets the recorded jobs and persisted RDD ids. */
    def take(): (Seq[Job], Set[Int]) = synchronized {
      val deadline = System.currentTimeMillis() + 60000L
      while (!drained && System.currentTimeMillis() < deadline) wait(100L)
      require(drained, "ProfileQuery: the listener bus did not deliver the drain job")
      val out = jobs.values.filter(_.phase != Drain).map { j =>
        Job(j.id, j.phase, (j.end - j.start) / 1e3, j.stages, j.tasks, j.cpuNs / 1e9,
          j.input, j.shufW, j.shufR, j.spill, j.description)
      }.toList
      val pinned = persisted.toSet
      jobs.clear()
      stageJob.clear()
      persisted.clear()
      drained = false
      (out, pinned)
    }
  }

  /** Profiles each named query in `spark` over the tables in `dataDir`;
    * with `planDir`, also writes each query's formatted physical plan there.
    * Leaves the session running and releases only the pins the calls made. */
  def profile(spark: SparkSession, dataDir: String, queries: Seq[String],
      planDir: Option[String]): Seq[QueryProfile] = {
    val sc = spark.sparkContext
    val listener = new JobListener
    sc.addSparkListener(listener)
    planDir.foreach(d => new java.io.File(d).mkdirs())
    def releasePins(before: collection.Set[Int]): Unit =
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id)) rdd.unpersist(blocking = true)
      }
    try queries.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val warmPins = sc.getPersistentRDDs.keySet
      fn(spark, dataDir).queryExecution.toRdd.count()
      releasePins(warmPins)

      val pinsBefore = sc.getPersistentRDDs.keySet
      try {
        sc.setLocalProperty(PhaseKey, "construct")
        val t0 = System.nanoTime()
        val qe = fn(spark, dataDir).queryExecution
        val t1 = System.nanoTime()
        sc.setLocalProperty(PhaseKey, "act")
        qe.toRdd.count()
        val t2 = System.nanoTime()
        sc.setLocalProperty(PhaseKey, Drain)
        sc.parallelize(Seq(0), 1).count()
        sc.setLocalProperty(PhaseKey, null)
        val (jobs, pinned) = listener.take()
        val catalyst = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
          .map { case (p, s) => p -> s.durationMs / 1e3 }
        val planFile = planDir.map { d =>
          val f = new java.io.File(d, s"$name.txt")
          val pw = new java.io.PrintWriter(f, "UTF-8")
          try pw.println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
          finally pw.close()
          f.getPath
        }
        releasePins(pinsBefore)
        QueryProfile(name, (t1 - t0) / 1e9, catalyst, (t2 - t1) / 1e9, jobs,
          (pinned -- pinsBefore).size, planFile)
      } finally sc.setLocalProperty(PhaseKey, null)
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up codegen/parquet/shuffle paths (the bench's own warmup)
    try spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    catch { case _: Throwable => () }

    profile(spark, dir, args.toSeq, sys.env.get("SPARK_GRAFT_EXPLAIN_OUT")).foreach { p =>
      def line(label: String, js: Seq[Job]): String =
        f"$label%-9s ${js.size}%3d jobs ${js.map(_.stages).sum}%4d stages " +
          f"${js.map(_.tasks).sum}%5d tasks cpu ${js.map(_.executorCpuS).sum}%.2fs " +
          f"input ${js.map(_.inputRecords).sum} shuffle written " +
          f"${js.map(_.shuffleRecordsWritten).sum} read ${js.map(_.shuffleRecordsRead).sum} " +
          f"spill ${js.map(_.spillBytes).sum}"
      println(s"===== ${p.query} =====")
      println(f"  construct ${p.constructS}%.2fs | " +
        p.catalystS.map { case (ph, s) => f"$ph $s%.2fs" }.mkString(" ") +
        f" | act ${p.actS}%.2fs | pins ${p.pins}")
      println("  " + line("construct", p.jobsIn("construct")))
      println("  " + line("act", p.jobsIn("act")))
      println("  " + line("total", p.jobs))
      p.jobs.foreach { j =>
        println(f"    job ${j.id}%4d ${j.phase}%-9s ${j.seconds}%6.2fs stages ${j.stages}%2d " +
          f"tasks ${j.tasks}%4d ${j.description.take(80)}")
      }
      p.planFile.foreach(f => println(s"  plan: $f"))
    }
    spark.stop()
  }
}
