package perfbench

import graft.SparkEntry
import graft.core._
import graft.spark._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Wall time of named sub-steps of one call's construction. */
final class Laps {
  val seconds = mutable.LinkedHashMap.empty[String, Double]
  def time[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally seconds(key) = seconds.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/** A constructed call: `run` is the timed action, `check` the untimed
  * verdict on its output (None when correct). */
trait Call {
  def df: DataFrame
  def run(): Unit
  def check(): Option[String]
  /** Outcome figures of the call, e.g. a release's relative error. */
  def figures: Map[String, Double] = Map.empty
}

trait Op {
  def name: String
  def build(spark: SparkSession, laps: Laps): Call
}

trait Workload {
  /** One round of the closed loop; the loop shuffles it per pass. */
  def ops: Seq[Op]
  /** The set-up's warm-up: one engine call on a fresh session. */
  def warmup(spark: SparkSession): Unit
  /** Untimed work before the loop: computes or writes under `outDir` what
    * the correctness checks need. Returns the operations it ran, each with
    * its error if it failed. */
  def prepare(spark: SparkSession, outDir: String): Seq[(String, Option[String])]
  /** Calls the traced run reports on their own. */
  def probeOps: Seq[Op] = Nil
  /** Wall time of one `computeBudgets` of the workload's PLD accounting,
    * measured from outside the entry functions (traced run only). */
  def accountingProbe(spark: SparkSession): Option[Double] = None
}

object Workload {
  /** Writes `value` (maps, sequences, options and numbers) as JSON. */
  def writeJson(path: String, value: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      org.json4s.jackson.Serialization.write(value.asInstanceOf[AnyRef])(org.json4s.DefaultFormats))

  def message(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"

  /** Maps `f` over `xs` on `threads` driver threads. The first pass is
    * mostly single-threaded driver work (planning, code generation, JIT),
    * so running its calls side by side shortens it without changing what
    * the loop later measures. */
  def parMap[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      .map(_.get())
    finally pool.shutdown()
  }
}

/** A fixed list of driver queries over the sf0.1 tables in `dir`.
  * A call is `SparkEntry.queries(name)(spark, dir)` (construct and plan)
  * plus executing its compiled plan, as graft.Bench does. */
final class QueryMix(dir: String, names: Seq[String], probes: Seq[String])
    extends Workload {
  private val expectedRows = scala.collection.concurrent.TrieMap.empty[String, Long]

  def ops: Seq[Op] = names.map(query)
  override def probeOps: Seq[Op] = probes.map(query)

  private def query(n: String): Op = new Op {
    val name = n
    def build(spark: SparkSession, laps: Laps): Call = {
      val frame = laps.time("entry")(SparkEntry.queries(n)(spark, dir))
      new Call {
        private var rows = -1L
        val df = frame
        // executes every projection of the compiled plan, unlike count()
        def run(): Unit = rows = df.queryExecution.toRdd.count()
        // a query whose first pass failed is already counted there
        def check(): Option[String] = expectedRows.get(n).filter(_ != rows)
          .map(e => s"$rows rows, first pass wrote $e")
      }
    }
  }

  def warmup(spark: SparkSession): Unit =
    SparkEntry.queries(names.head)(spark, dir).queryExecution.toRdd.count()

  /** Writes every query's output for the DuckDB oracle. */
  def prepare(spark: SparkSession, outDir: String): Seq[(String, Option[String])] = {
    val results = Workload.parMap(names, spark.sparkContext.defaultParallelism) { n =>
      val path = s"$outDir/oracle/$n"
      try {
        SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(path)
        expectedRows(n) = spark.read.parquet(path).count()
        n -> None
      } catch { case t: Throwable => n -> Some(Workload.message(t)) }
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Workload.writeJson(s"$outDir/oracle/oracle_sql.json", oracle)
    results
  }

  override def accountingProbe(spark: SparkSession): Option[Double] =
    if (!names.contains("dp_percentile_pld")) None
    else {
      // the accountant dp_percentile_pld builds, with the same requests
      val engine = new DPEngine(
        new PLDBudgetAccountant(1e5, 0.999999, pldDiscretization = 1e-2), NoiseSource.Zero)
      engine.aggregate(spark.read.parquet(s"$dir/events.parquet"),
        AggregateParams(
          metrics = Seq(Metric.Percentile(10), Metric.Percentile(50), Metric.Percentile(90)),
          maxPartitionsContributed = 5, maxContributionsPerPartition = Some(100),
          minValue = Some(0.0), maxValue = Some(500.0)),
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type")), Some(floor(col("value")))))
      val t0 = System.nanoTime()
      engine.accountant.computeBudgets()
      Some((System.nanoTime() - t0) / 1e9)
    }
}

/** Repeated DP releases with real noise over the generated contribution
  * table, with caps that bind (see gendata.py for their share). */
final class LargeSkewed(dir: String) extends Workload {
  import LargeSkewed._

  private val path = s"$dir/contrib.parquet"
  private var truth: Map[Long, KeyTruth] = Map.empty
  /** Most rows any bounded release can keep in total: per unit, the L0
    * cells with the most rows after the Linf cap. */
  private var totalCountCap = 0L

  // the input's schema is known: reading it costs no schema-inference job
  private def read(spark: SparkSession, p: String) =
    spark.read.schema("unit BIGINT, key BIGINT, value DOUBLE").parquet(p)

  def warmup(spark: SparkSession): Unit =
    releases(s"$dir/warm.parquet").last.build(spark, new Laps).run()

  /** Reads the exact per-key truth and what the caps allow, which
    * gendata.py computed from the generated rows. */
  def prepare(spark: SparkSession, outDir: String): Seq[(String, Option[String])] = {
    truth = spark.read.parquet(s"$dir/truth.parquet")
      .select("key", "rows", "exact_sum", "count_cap", "sum_cap").collect()
      .map(r => r.getLong(0) -> KeyTruth(r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
      .toMap
    val stats = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/stats.json"))))
    totalCountCap = (stats \ "total_count_cap").values.asInstanceOf[BigInt].toLong
    Nil
  }

  private def columns = DPColumns(col("unit"), Seq("key" -> col("key")), Some(col("value")))

  private def unknownKeys(keys: Iterable[Long]): Option[String] =
    keys.find(k => !truth.contains(k)).map(k => s"released key $k is not in the input")

  /** No released count exceeds what the caps allow, plus `margin` noise
    * standard deviations: per key, the rows left after the Linf cap
    * (catches a missing Linf bound); over all released keys, the total
    * after the L0 and Linf caps (catches a missing L0 bound). */
  private def countsWithin(rows: Seq[Row], noiseSd: Double, margin: Double): Option[String] = {
    def count(r: Row) = r.getAs[Double]("count")
    def key(r: Row) = r.getAs[Long]("key")
    val total = rows.map(count).sum
    val totalMargin = margin * noiseSd * math.sqrt(rows.size.toDouble)
    rows.collectFirst {
      case r if count(r) > truth(key(r)).countCap + margin * noiseSd =>
        s"key ${key(r)} released count ${count(r)} > Linf cap ${truth(key(r)).countCap} + " +
          s"margin ${margin * noiseSd}"
    }.orElse(if (total <= totalCountCap + totalMargin) None else Some(
      s"released counts total $total > L0 and Linf cap $totalCountCap + margin $totalMargin"))
  }

  /** A release through DPEngine: `release` requests the budget and returns
    * the result; `verify` checks the collected rows. */
  private def engineOp(opName: String, input: String, pld: Boolean)(
      release: (DPEngine, DataFrame) => DPResult)(
      verify: Seq[Row] => Option[String]): Op = new Op {
    val name = opName
    def build(spark: SparkSession, laps: Laps): Call = {
      val in = laps.time("entry")(read(spark, input))
      val accountant =
        if (pld) new PLDBudgetAccountant(Epsilon, Delta) else new NaiveBudgetAccountant(Epsilon, Delta)
      val frame = laps.time("dp") {
        val engine = new DPEngine(accountant, NoiseSource.Secure)
        val res = release(engine, in)
        laps.time("accounting")(accountant.computeBudgets())
        res.dataframe
      }
      new Call {
        private var out: Seq[Row] = Nil
        val df = frame
        def run(): Unit = out = df.collect().toSeq
        def check(): Option[String] = {
          val keys = out.map(_.getAs[Long]("key"))
          unknownKeys(keys)
            .orElse(spentMatches(accountant))
            .orElse(verify(out))
        }
        override def figures: Map[String, Double] =
          Map("released_frac" -> out.size.toDouble / truth.size)
      }
    }
  }

  private def countSumMean(input: String): Op = new Op {
    val name = "count_sum_mean"
    def build(spark: SparkSession, laps: Laps): Call = {
      val in = laps.time("entry")(read(spark, input))
      val frame = laps.time("dp") {
        new QueryBuilder(in, "unit")
          .groupby(Seq("key"), maxGroupsContributed = L0Cap, maxContributionsPerGroup = LinfCap)
          .count().sum("value", minValue = 0, maxValue = MaxValue).mean("value")
          .buildQuery()
          .runQuery(Budget(Epsilon, Delta), NoiseKind.Gaussian, NoiseSource.Secure)
      }
      new Call {
        private var out: Seq[Row] = Nil
        val df = frame
        def run(): Unit = out = df.collect().toSeq
        def check(): Option[String] = {
          // the naive accountant inside runQuery splits (eps, delta) over
          // at most MaxMechanisms mechanisms
          val sigma = gaussianSigma(math.sqrt(L0Cap) * LinfCap)
          unknownKeys(out.map(_.getAs[Long]("key")))
            .orElse(countsWithin(out, sigma, 10))
            .orElse(out.collectFirst {
              case r if r.getAs[Double]("sum") >
                  truth(r.getAs[Long]("key")).sumCap + 10 * sigma * MaxValue =>
                s"key ${r.getAs[Long]("key")} released sum ${r.getAs[Double]("sum")} > " +
                  s"cap ${truth(r.getAs[Long]("key")).sumCap} + margin ${10 * sigma * MaxValue}"
            })
        }
        override def figures: Map[String, Double] = {
          val errs = out.flatMap { r =>
            val exact = truth(r.getAs[Long]("key")).exactSum
            if (exact > 0) Some(math.abs(r.getAs[Double]("sum") - exact) / exact) else None
          }.sorted
          Map("released_frac" -> out.size.toDouble / truth.size) ++
            (if (errs.isEmpty) Map.empty else Map("rel_error" -> errs(errs.size / 2)))
        }
      }
    }
  }

  private val aggParams = AggregateParams(
    metrics = Seq(Metric.Count), maxPartitionsContributed = L0Cap,
    maxContributionsPerPartition = Some(LinfCap), minValue = Some(0.0), maxValue = Some(MaxValue))

  val ops: Seq[Op] = releases(path)

  private def releases(input: String): Seq[Op] = Seq(
    countSumMean(input),
    engineOp("variance", input, pld = false)((e, in) =>
      e.aggregate(in, aggParams.copy(metrics = Seq(Metric.Variance, Metric.Count)), columns))(
      // Laplace noise at the smallest budget share: sd = sqrt(2) x scale
      out => countsWithin(out, math.sqrt(2) * LinfCap * L0Cap * MaxMechanisms / Epsilon, 18)),
    engineOp("percentiles_pld", input, pld = true)((e, in) =>
      e.aggregate(in, aggParams.copy(metrics =
        Seq(Metric.Percentile(50), Metric.Percentile(90))), columns))(
      out => out.collectFirst {
        case r if Seq("percentile_50", "percentile_90").exists { c =>
            val v = r.getAs[Double](c); v < 0 || v > MaxValue } =>
          s"key ${r.getAs[Long]("key")} released a percentile outside [0, $MaxValue]"
      }),
    engineOp("select_naive", input, pld = false)((e, in) =>
      e.selectPartitions(in, SelectPartitionsParams(L0Cap), columns))(_ => None),
    engineOp("select_pld", input, pld = true)((e, in) =>
      e.selectPartitions(in, SelectPartitionsParams(L0Cap), columns))(_ => None))
}

/** Exact figures of one key of the contribution table: its rows and value
  * sum, and the most rows and clipped value sum the Linf cap lets it keep
  * (per cell, the Linf largest clipped values). */
final case class KeyTruth(rows: Long, exactSum: Double, countCap: Long, sumCap: Double)

object LargeSkewed {
  // the caps and clipping bound gendata.py computes the truth for
  // (L0_CAP, LINF_CAP, MAX_VALUE)
  val L0Cap = 4
  val LinfCap = 2
  val MaxValue = 50.0
  val Epsilon = 1.0
  val Delta = 1e-6
  /** Upper bound on the mechanisms one release splits its budget over. */
  val MaxMechanisms = 8

  /** Classic Gaussian-mechanism sigma at the smallest per-mechanism share
    * of the budget: an upper bound on the engine's analytic calibration. */
  def gaussianSigma(l2: Double): Double = {
    val eps = Epsilon / MaxMechanisms
    val delta = Delta / MaxMechanisms
    l2 * math.sqrt(2 * math.log(1.25 / delta)) / eps
  }

  private val StoryLine = """x count = (\d+).*-> epsilon = ([^,]+), delta = ([^,\s]+)""".r.unanchored

  /** The spent budget equals the requested one: under naive composition
    * the per-mechanism shares in the accountant's budget story add up to
    * the total; under PLD the composed epsilon at the total delta is the
    * total epsilon, to the search's tolerance. */
  def spentMatches(acc: BudgetAccountant): Option[String] = acc match {
    case pld: PLDBudgetAccountant =>
      val eps = pld.composeDistributions(pld.baseNoiseStd.get).epsilonForDelta(acc.totalDelta)
      if (eps <= acc.totalEpsilon * 1.001 && eps >= acc.totalEpsilon * 0.99) None
      else Some(s"PLD accountant spent epsilon $eps of ${acc.totalEpsilon}")
    case _ =>
      val shares = acc.budgetStory.linesIterator.collect {
        case StoryLine(n, e, d) => (n.toInt * e.toDouble, n.toInt * d.toDouble)
      }.toSeq
      val (eps, delta) = (shares.map(_._1).sum, shares.map(_._2).sum)
      if (math.abs(eps - acc.totalEpsilon) <= 1e-4 * acc.totalEpsilon &&
          math.abs(delta - acc.totalDelta) <= 1e-3 * acc.totalDelta) None
      else Some(s"naive accountant spent ($eps, $delta) of (${acc.totalEpsilon}, ${acc.totalDelta})")
  }
}
