package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import scala.collection.mutable

/** One benchmark run in one JVM: set-up, an untimed first pass, then a
  * closed loop of one client for `--seconds`. Writes the raw run record
  * (every call, its timings and, when traced, its counters) to
  * `<out>/record.json`; perfbench/run.py turns it into metrics.
  *
  * Usage: PerfBench --workload W --data DIR --out DIR --seed N --seconds S
  *                  --trace 0|1 --cores K --launched-at T
  * where T is the time, in seconds since the epoch, the JVM was launched. */
object PerfBench {
  /** The DP family (dp_*, ss_dp_*), one query per mechanism family:
    * count aggregate, percentile under PLD accounting, vector sum,
    * partition selection, set union, top-k, range tree, LDP, continual
    * release. Chosen, among each family's queries, for the shortest
    * call at sf0.1 on four cores, so one pass fits a short run. */
  val DpSmallMix = Seq(
    "dp_count", "dp_percentile_pld", "dp_vector_sum", "dp_select_partitions", "dp_set_union",
    "dp_noisy_topk", "dp_range_tree", "dp_ldp_frequency", "ss_dp_continual_sum")

  /** The training-data tier (dedup_*, er_*, sim_*, text_*): exact, simhash
    * and segment dedup, two record-linkage pair builders, exact top-k and
    * two text operators. Queries whose DuckDB oracle alone takes seconds
    * (dedup_components, dedup_cluster_sizes, text_langid) are left out. */
  val CorpusMix = Seq(
    "dedup_exact", "dedup_simhash", "dedup_freq_segments", "er_ab_pairs",
    "er_incremental_pairs", "sim_topk", "text_normalize", "text_bpe_apply")

  def workload(name: String, data: String): Workload = name match {
    case "dp_small_mix" =>
      new QueryMix(data, DpSmallMix, Seq("dp_join_revenue", "ss_dp_continual_sum_sharded"))
    case "corpus_mix" => new QueryMix(data, CorpusMix, Seq("sim_ivf_rebuild"))
    case "dp_large_skewed" => new LargeSkewed(data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def physicalNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => physicalNodes(a.executedPlan)
    case q: QueryStageExec => physicalNodes(q.plan)
    case _ => 1 + p.children.map(physicalNodes).sum + p.subqueries.map(physicalNodes).sum
  }

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  private def execFields(prefix: String, e: ExecStats): Map[String, Any] = Map(
    s"${prefix}jobs" -> e.jobs, s"${prefix}stages" -> e.stages, s"${prefix}tasks" -> e.tasks,
    s"${prefix}job_union_s" -> e.jobUnionS, s"${prefix}task_overhead_s" -> e.taskOverheadS,
    s"${prefix}input_records" -> e.inputRecords,
    s"${prefix}shuffle_write_records" -> e.shuffleWriteRecords,
    s"${prefix}shuffle_read_records" -> e.shuffleReadRecords,
    s"${prefix}shuffle_write_bytes" -> e.shuffleWriteBytes, s"${prefix}spill_bytes" -> e.spillBytes,
    s"${prefix}executor_cpu_s" -> e.executorCpuS, s"${prefix}gc_s" -> e.gcS,
    s"${prefix}stage_max_run_s" -> e.stageMaxRunS, s"${prefix}stage_mean_run_s" -> e.stageMeanRunS)

  /** Builds, runs and checks one call. With a listener, the call's jobs are
    * tagged and its counters, Catalyst phases, plan size and pins recorded. */
  def call(spark: SparkSession, op: Op, id: String, tracer: Option[SpanListener]): Map[String, Any] = {
    val sc = spark.sparkContext
    val laps = new Laps
    val pinsBefore = tracer.map(_ => sc.getPersistentRDDs.keySet)
    val storageBefore = tracer.map(_ => storageMb(spark))
    def tag(span: String): Unit = tracer.foreach(_ => sc.setLocalProperty(SpanListener.SpanKey, span))
    val rec = mutable.LinkedHashMap[String, Any]("name" -> op.name)
    val t0 = System.nanoTime()
    try {
      tag(s"$id/build")
      val c = op.build(spark, laps)
      rec("build_s") = seconds(t0)
      val t1 = System.nanoTime()
      tag(s"$id/run")
      c.run()
      rec("run_s") = seconds(t1)
      tag(null)
      val verdict = c.check()
      rec("ok") = verdict.isEmpty
      verdict.foreach(rec("error") = _)
      rec("figures") = c.figures
      tracer.foreach { tr =>
        PerfbenchBus.drain(sc)
        rec ++= execFields("build_", tr.take(s"$id/build"))
        rec ++= execFields("", tr.take(s"$id/run"))
        val qe = c.df.queryExecution
        qe.tracker.phases.foreach { case (phase, p) => rec(s"${phase}_s") = p.durationMs / 1e3 }
        rec("physical_nodes") = physicalNodes(qe.executedPlan)
        rec("pins_added") = (sc.getPersistentRDDs.keySet -- pinsBefore.get).size
        rec("storage_mb_added") = storageMb(spark) - storageBefore.get
      }
    } catch {
      case t: Throwable =>
        tag(null)
        rec("ok") = false
        rec("error") = Workload.message(t)
        rec.getOrElseUpdate("build_s", seconds(t0))
        tracer.foreach { tr =>
          PerfbenchBus.drain(sc)
          tr.take(s"$id/build")
          tr.take(s"$id/run")
        }
    }
    rec("laps") = laps.seconds.toMap
    rec.toMap
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = workload(opt("workload"), opt("data"))
    val seed = opt("seed").toLong
    val runSeconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val out = opt("out")
    new java.io.File(s"$out/oracle").mkdirs()

    // Set-up: JVM start, SparkSession start and the workload's warm-up
    // action, timed from the JVM's launch.
    val spark = session(cores)
    w.warmup(spark)
    val now = java.time.Instant.now()
    val setupS = now.getEpochSecond + now.getNano / 1e9 - opt("launched-at").toDouble

    val tPrep = System.nanoTime()
    val prepared = w.prepare(spark, out)
    // A warm round: every operation once, one after another as in the
    // loop, untimed and checked, so the loop starts with generated code and
    // JIT warm.
    val warmRound = w.ops.map { op =>
      try {
        val c = op.build(spark, new Laps)
        c.run()
        op.name -> c.check()
      } catch { case t: Throwable => op.name -> Some(Workload.message(t)) }
    }
    val prepareS = seconds(tPrep)

    // Closed loop: one client calls the operations in passes, each pass in
    // a fresh seeded order, and starts no call after `--seconds`. The first
    // pass always completes, so every operation has a sample. A traced run
    // calls each operation twice in a row, once traced and once not,
    // alternating which goes first, so the pairs give the tracing overhead.
    val rng = new scala.util.Random(seed)
    val tracer = if (traced) Some(new SpanListener) else None
    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val loop0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || seconds(loop0) < runSeconds) {
      rng.shuffle(w.ops).zipWithIndex.iterator
        .takeWhile(_ => pass == 0 || seconds(loop0) < runSeconds)
        .foreach { case (op, i) =>
          val modes = tracer.fold(Seq(Option.empty[SpanListener])) { tr =>
            if (i % 2 == 0) Seq(Some(tr), None) else Seq(None, Some(tr)) }
          modes.foreach { tr =>
            tr.foreach(spark.sparkContext.addSparkListener)
            calls += call(spark, op, s"$pass.$i", tr) + ("pass" -> pass) + ("traced" -> tr.isDefined)
            tr.foreach(spark.sparkContext.removeSparkListener)
          }
        }
      pass += 1
    }
    val retainedMb = storageMb(spark)
    val aliveEnd = spark.sparkContext.getPersistentRDDs.size

    // Traced extras: named queries reported on their own (second call, so
    // first-call caches are filled), and the workload's accounting step.
    val probes = tracer.toSeq.flatMap { tr =>
      spark.sparkContext.addSparkListener(tr)
      val recs = w.probeOps.map { op =>
        call(spark, op, s"probe.${op.name}.warm", None)
        call(spark, op, s"probe.${op.name}", Some(tr))
      }
      spark.sparkContext.removeSparkListener(tr)
      recs
    }
    val accountingS = if (traced) {
      val xs = (1 to 5).flatMap(_ => w.accountingProbe(spark)).sorted
      if (xs.isEmpty) None else Some(xs(xs.size / 2))
    } else None

    val record = Map(
      "workload" -> opt("workload"), "setup_s" -> setupS, "prepare_s" -> prepareS,
      "first_pass" -> prepared.map { case (n, e) => Map("name" -> n, "error" -> e) },
      "warm_round" -> warmRound.map { case (n, e) => Map("name" -> n, "error" -> e) },
      "passes" -> pass, "calls" -> calls, "probes" -> probes,
      "accounting_probe_s" -> accountingS, "retained_storage_mb" -> retainedMb, "rdds_alive_end" -> aliveEnd,
      "java_version" -> System.getProperty("java.version"), "spark_version" -> spark.version)
    Workload.writeJson(s"$out/record.json", record)
    spark.stop()
  }
}
