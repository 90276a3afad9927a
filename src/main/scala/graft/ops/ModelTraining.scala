package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Feature row of the text-classifier trainer: hashed feature buckets
  * (with repetition), the feature count, and the {0, 1} label. Top-level
  * case class so the encoder stays codegen-compiled (the Janino rule). */
final case class LtmFeatures(buckets: Seq[Int], n: Long, y: Double)

/** One training iteration's aggregate: dense gradient (dim + 1 slots,
  * bias last), summed log-loss, and the row count. */
final case class GradBuf(g: Array[Double], loss: Double, n: Long)

/** Integer sibling of [[GradBuf]] for the exact trainer: dense long
  * gradient, squared-error loss sum, row count, rows predicted correctly
  * at the pass's weights. */
final case class IGradBuf(g: Array[Long], loss: Long, n: Long, nCorrect: Long)

/** TRAINING the model-based quality filter inside the engine — the half
  * [[LinearTextModel]] deliberately stubs (its scorer is the production
  * shape with synthetic weights; this produces REAL weights for it):
  * distributed FULL-BATCH logistic regression over the same hashed
  * unigram+bigram features (portable md5-prefix buckets, mean-pooled),
  * so the trained weight vector drops straight into the scoring loop.
  *
  * Execution shape (the 100 TB contract): features extract ONCE (one
  * tokenize+hash pass, checkpointed); each of the `iters` gradient
  * steps is ONE map-side-combined typed aggregation with a dense
  * (dim + 2)-slot buffer per task — the [[graft.spark.Similarity]]
  * covariance-moments pattern; no explode, no per-feature shuffle, and
  * the only driver state is the weight vector itself (dim + 1 doubles,
  * broadcast into the next step's closure). Wall cost = iters scans of
  * the BOUNDED feature frame, not of the raw text.
  *
  * Determinism: float gradient sums are partition-order dependent, so
  * the released numbers are rows-only at the gate, carried by probes
  * (the emb_kmeans convention): the final loss must IMPROVE on the
  * initial loss, and the trained model's training-set accuracy must
  * beat the majority-class baseline — both computed in-query, so a
  * silently diverging trainer (bad lr, broken gradient sign) breaks the
  * row contract, not just a spec. */
object ModelTraining {

  /** Source of per-call CV job-group ids: an identity hash can repeat
    * across concurrent calls, and a colliding group would let one call's
    * failing fold cancel another call's folds. */
  private val cvCalls = new java.util.concurrent.atomic.AtomicLong()

  /** The feature extraction shared with scoring: hashed unigram+bigram
    * buckets (md5 leading-60-bit convention, mod `dim`), kept WITH
    * repetition — mean pooling divides by the count, exactly
    * [[LinearTextModel.score]]'s arithmetic. */
  private def featurize(textCol: Column, labelCol: Column, dim: Int): Column = {
    val f = udf((t: String, y: Boolean) => {
      val toks = scala.collection.mutable.ArrayBuffer.empty[String]
      if (t != null) {
        val m = TextAnalysis.tokenPattern.matcher(
          t.toLowerCase(java.util.Locale.ROOT))
        while (m.find()) toks += m.group()
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      val buckets = scala.collection.mutable.ArrayBuffer.empty[Int]
      def add(feature: String): Unit = {
        val d = md.digest(feature.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var v = 0L; var k = 0
        while (k < 8) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
        buckets += ((v >>> 4) % dim).toInt
      }
      var i = 0
      while (i < toks.length) { add(toks(i)); i += 1 }
      i = 0
      while (i < toks.length - 1) { add(toks(i) + " " + toks(i + 1)); i += 1 }
      LtmFeatures(buckets.toSeq, buckets.length.toLong, if (y) 1.0 else 0.0)
    })
    f(textCol, labelCol)
  }

  /** One full-batch gradient + loss pass at fixed weights `w` (length
    * dim + 1, bias last): buffer slot j accumulates
    * sum_rows (sigmoid(w.x + b) - y) * x_j with x = bucket counts / n. */
  private final class GradAggregator(w: Array[Double], dim: Int)
      extends Aggregator[LtmFeatures, GradBuf, GradBuf] {
    def zero: GradBuf = GradBuf(new Array[Double](dim + 1), 0.0, 0L)

    private def margin(r: LtmFeatures): Double = {
      var z = w(dim) // bias
      if (r.n > 0) {
        val inv = 1.0 / r.n
        val it = r.buckets.iterator
        while (it.hasNext) z += w(it.next()) * inv
      }
      z
    }

    def reduce(b: GradBuf, r: LtmFeatures): GradBuf = {
      val z = margin(r)
      val p = 1.0 / (1.0 + math.exp(-z))
      val err = p - r.y
      if (r.n > 0) {
        val inv = 1.0 / r.n
        val it = r.buckets.iterator
        while (it.hasNext) { val j = it.next(); b.g(j) += err * inv }
      }
      b.g(dim) += err
      // numerically stable log-loss: log(1 + e^-|z|) + max(0, -yz') form
      val loss =
        if (r.y > 0.5) math.log1p(math.exp(-math.abs(z))) + math.max(0.0, -z)
        else math.log1p(math.exp(-math.abs(z))) + math.max(0.0, z)
      GradBuf(b.g, b.loss + loss, b.n + 1)
    }

    def merge(a: GradBuf, b: GradBuf): GradBuf = {
      var j = 0
      while (j <= dim) { a.g(j) += b.g(j); j += 1 }
      GradBuf(a.g, a.loss + b.loss, a.n + b.n)
    }

    def finish(b: GradBuf): GradBuf = b
    def bufferEncoder: Encoder[GradBuf] = Encoders.product[GradBuf]
    def outputEncoder: Encoder[GradBuf] = Encoders.product[GradBuf]
  }

  /** One integer gradient/loss/accuracy pass at fixed micro-unit weights
    * `w` (length dim + 1, bias last). ALL arithmetic is long with
    * truncated division (Scala `/` == DuckDB `//`), so the pass replays
    * bit-exactly in SQL:
    *   z      = sum over bucket OCCURRENCES of w(b), + bias   [micro]
    *   p      = clamp(500 + z / 4000, 0, 1000)                [milli]
    *   err    = p - y * 1000                                  [milli]
    *   werr   = err * nDocs * 1000 / (2 * classCount(y))      [~micro]
    *   g(b)  += werr per occurrence; g(bias) += werr
    *   loss  += err * err;  correct = (z > 0) == (y == 1)
    * The CLASS-BALANCED error (werr) is what makes fixed-point full-batch
    * GD learn here: features common to both classes receive opposing
    * balanced pulls that cancel, while class-consistent features
    * accumulate monotonically — without it the 2:1 label imbalance turns
    * every shared feature into a phantom bias coordinate. */
  private final class IntGradAggregator(w: Array[Long], dim: Int,
      nDocs: Long, nPos: Long)
      extends Aggregator[LtmFeatures, IGradBuf, IGradBuf] {
    def zero: IGradBuf = IGradBuf(new Array[Long](dim + 1), 0L, 0L, 0L)

    def reduce(b: IGradBuf, r: LtmFeatures): IGradBuf = {
      if (r.n <= 0) throw new IllegalArgumentException(
        "exact trainer (trainTextLogRegExact/crossValidateExact): a row " +
          "with zero features reached a gradient/eval pass — its error " +
          "has no feature to flow into and the class-balance " +
          "denominators assume labeled rows carry signal; filter n == 0 " +
          "rows upstream")
      var z = w(dim)
      val it = r.buckets.iterator
      while (it.hasNext) z += w(it.next())
      var p = 500L + z / 4000L
      if (p < 0L) p = 0L
      if (p > 1000L) p = 1000L
      val y = if (r.y > 0.5) 1000L else 0L
      val err = p - y
      val nc = if (y == 1000L) nPos else nDocs - nPos
      val werr = err * nDocs * 1000L / (2L * nc)
      val it2 = r.buckets.iterator
      while (it2.hasNext) b.g(it2.next()) += werr
      b.g(dim) += werr
      val correct = (z > 0L) == (y == 1000L)
      IGradBuf(b.g, b.loss + err * err, b.n + 1L,
        b.nCorrect + (if (correct) 1L else 0L))
    }

    def merge(a: IGradBuf, b: IGradBuf): IGradBuf = {
      var j = 0
      while (j <= dim) { a.g(j) += b.g(j); j += 1 }
      IGradBuf(a.g, a.loss + b.loss, a.n + b.n, a.nCorrect + b.nCorrect)
    }

    def finish(b: IGradBuf): IGradBuf = b
    def bufferEncoder: Encoder[IGradBuf] = Encoders.product[IGradBuf]
    def outputEncoder: Encoder[IGradBuf] = Encoders.product[IGradBuf]
  }

  /** The `iters + 1` integer gradient passes of the exact trainer (the
    * last pass only evaluates), shared by [[trainTextLogRegExact]] and
    * [[crossValidateExact]] so the update rule cannot drift between the
    * single-frame and per-fold paths. Returns (final weights, one
    * [[IGradBuf]] per pass). */
  private def exactTrainLoop(
      feats: org.apache.spark.sql.Dataset[LtmFeatures],
      dim: Int, iters: Int, lrNum: Long, nDocs: Long, nPos: Long
  ): (Array[Long], Seq[IGradBuf]) = {
    val w = new Array[Long](dim + 1)
    val passes = Seq.newBuilder[IGradBuf]
    var it = 0
    while (it <= iters) {
      val agg = feats.select(
        udaf(new IntGradAggregator(w.clone(), dim, nDocs, nPos),
          Encoders.product[LtmFeatures])
          .apply(col("buckets"), col("n"), col("y"))).head().getStruct(0)
      val g = agg.getSeq[Long](0)
      passes += IGradBuf(g.toArray, agg.getLong(1), agg.getLong(2),
        agg.getLong(3))
      if (it < iters) {
        var j = 0
        while (j <= dim) {
          w(j) -= lrNum * g(j) / (nDocs * 1000L)
          j += 1
        }
      }
      it += 1
    }
    (w, passes.result())
  }

  /** EXACT fixed-point trainer — the oracle-anchored twin of
    * [[trainTextLogReg]] (whose float Adagrad sums are partition-order
    * dependent and therefore rows-only at the gate). Full-batch gradient
    * descent with a HARD sigmoid (piecewise-linear, saturating at
    * |z| = 2): every quantity is a long in micro/milli units with
    * truncated division, so weights, per-iteration losses and the final
    * accuracy are pure integer functions of the corpus — partition-order
    * independent on the Spark side and replayable iteration by iteration
    * in SQL (the generated oracle unrolls the same update `iters` times).
    *
    * Same execution shape as the float trainer: one tokenize+hash pass,
    * then iters + 1 map-side-combined dense-long aggregations over the
    * checkpointed feature frame (the last pass only evaluates).
    *
    * Update: w(j) -= lrNum * g(j) / (nDocs * 1000)   [micro units]
    *
    * Returns one row per released value, schema (kind, k, v):
    *   ('loss', t, sum err^2 at the start-of-iteration-t weights),
    *   t = 0..iters (t = iters is the final model's loss);
    *   ('acc', 0, rows predicted correctly at the final weights);
    *   ('acc', 1, nDocs); ('acc', 2, nPos);
    *   ('w', j, final w(j)) for every nonzero coordinate (bias j = dim). */
  def trainTextLogRegExact(
      df: DataFrame,
      textCol: Column,
      labelCol: Column,
      dim: Int = 1024,
      iters: Int = 3,
      lrNum: Long = 400L
  ): DataFrame = {
    require(dim >= 2 && dim <= 65536, s"dim must be in [2, 65536], got $dim")
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    require(lrNum > 0, s"lrNum must be positive, got $lrNum")
    val spark0 = df.sparkSession
    import spark0.implicits._
    val feats = df.select(featurize(textCol, labelCol.cast("boolean"), dim)
        .as("f"))
      .select(col("f.buckets").as("buckets"), col("f.n").as("n"),
        col("f.y").as("y"))
      .as[LtmFeatures]
      .localCheckpoint(false)
    val counts = feats.select(count(lit(1)), sum(col("y"))).head()
    val nDocs = counts.getLong(0)
    // sum(y) is NULL on an empty frame — read it null-safely so the
    // designed empty-frame message fires instead of an NPE
    val nPos = if (counts.isNullAt(1)) 0L
      else math.rint(counts.getDouble(1)).toLong
    require(nDocs > 0, "trainTextLogRegExact: empty training frame")
    require(nPos > 0 && nPos < nDocs,
      s"trainTextLogRegExact: single-class frame (nPos = $nPos of $nDocs) " +
        "— the class-balanced error divides by both class counts")
    val (w, passes) = exactTrainLoop(feats, dim, iters, lrNum, nDocs, nPos)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    passes.zipWithIndex.foreach { case (p, it) =>
      out += (("loss", it.toLong, p.loss))
    }
    out += (("acc", 0L, passes.last.nCorrect))
    out += (("acc", 1L, nDocs))
    out += (("acc", 2L, nPos))
    var j = 0
    while (j <= dim) {
      if (w(j) != 0L) out += (("w", j.toLong, w(j)))
      j += 1
    }
    out.toSeq.toDF("kind", "k", "v")
  }

  /** K-FOLD CROSS-VALIDATION over the exact fixed-point trainer — the
    * model-selection half of a corpus-filter pipeline (does the quality
    * classifier generalize, or did it memorize its markers?), with every
    * number an integer function of the corpus: fold membership is the
    * portable md5-60-bit hash of the id mod `folds` (the
    * [[graft.ops.CorpusOps.hashSplit]] convention — stable under corpus
    * growth, reproducible in any engine), each fold trains on the other
    * folds through the SAME [[exactTrainLoop]] as the single-frame
    * trainer, and held-out accuracy is evaluated at the trained weights.
    * Wall cost: folds * (iters + 2) scans of the bounded feature frame —
    * the folds are independent, so their scans run CONCURRENTLY (r19,
    * guide-style job overlap: one driver thread per fold submits that
    * fold's iteration jobs; Spark schedules them FIFO and the tail of one
    * fold's job back-fills the others' idle slots), and the per-fold
    * class counts come from ONE grouped pass instead of a count job per
    * fold (train-side counts = totals minus the fold's own — exact, the
    * y column is 0/1).
    *
    * Returns one row per fold: (fold, n_train, n_train_pos, n_test,
    * n_test_correct, train_loss_final) — all longs, partition-order
    * independent, replayable fold-by-fold in SQL. */
  def crossValidateExact(
      df: DataFrame,
      textCol: Column,
      labelCol: Column,
      idCol: Column,
      folds: Int = 3,
      dim: Int = 1024,
      iters: Int = 3,
      lrNum: Long = 50L
  ): DataFrame = {
    require(folds >= 2 && folds <= 10, s"folds must be in [2, 10], got $folds")
    require(dim >= 2 && dim <= 65536, s"dim must be in [2, 65536], got $dim")
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    require(lrNum > 0, s"lrNum must be positive, got $lrNum")
    val spark0 = df.sparkSession
    import spark0.implicits._
    val feats = df.select(
        featurize(textCol, labelCol.cast("boolean"), dim).as("f"),
        pmod(conv(substring(md5(idCol.cast("string")), 1, 15), 16, 10)
          .cast("long"), lit(folds.toLong)).as("__fold"))
      .select(col("f.buckets").as("buckets"), col("f.n").as("n"),
        col("f.y").as("y"), col("__fold"))
      // EAGER: every fold's concurrent actions read one materialization
      .localCheckpoint(true)
    // per-fold class counts in ONE grouped pass (was a count job per
    // fold); train-side = totals minus the fold's own — y is 0/1 so the
    // double sums are integer-exact under any association
    val byFold = feats.groupBy(col("__fold"))
      .agg(count(lit(1)).as("__n"), sum(col("y")).as("__p")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) 0L else math.rint(r.getDouble(2)).toLong)).toMap
    val totN = byFold.values.map(_._1).sum
    val totP = byFold.values.map(_._2).sum
    val pool = java.util.concurrent.Executors.newFixedThreadPool(folds)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    // each fold's jobs run under its own job group so a failed fold can
    // CANCEL its siblings' in-flight jobs (plain shutdown() would let
    // them run to completion in the background after the caller already
    // received the failure — wasted cluster work)
    val jobGroup = s"graft-cv-${cvCalls.incrementAndGet()}"
    val rows = try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence((0 until folds).map { fold =>
        scala.concurrent.Future {
          spark0.sparkContext.setJobGroup(jobGroup,
            s"crossValidateExact fold $fold", interruptOnCancel = true)
          val train = feats.filter(col("__fold") =!= fold.toLong)
            .drop("__fold").as[LtmFeatures]
          val test = feats.filter(col("__fold") === fold.toLong)
            .drop("__fold").as[LtmFeatures]
          val (foldN, foldP) = byFold.getOrElse(fold.toLong, (0L, 0L))
          val nTrain = totN - foldN
          val nPos = totP - foldP
          require(nTrain > 0, s"crossValidateExact: fold $fold has an " +
            "empty training side — fewer rows than folds?")
          require(nPos > 0 && nPos < nTrain,
            s"crossValidateExact: fold $fold trains single-class " +
              s"(nPos = $nPos of $nTrain) — the class-balanced error " +
              "divides by both class counts; use fewer folds or more data")
          val (w, passes) =
            exactTrainLoop(train, dim, iters, lrNum, nTrain, nPos)
          // held-out pass: gradient/werr are computed but unused — only
          // the (n, nCorrect) counters at the trained weights matter here
          val ev = test.select(
            udaf(new IntGradAggregator(w, dim, nTrain, nPos),
              Encoders.product[LtmFeatures])
              .apply(col("buckets"), col("n"), col("y"))).head().getStruct(0)
          (fold.toLong, nTrain, nPos, ev.getLong(2), ev.getLong(3),
            passes.last.loss)
        }
      }), scala.concurrent.duration.Duration.Inf)
    catch { case t: Throwable =>
      spark0.sparkContext.cancelJobGroup(jobGroup)
      throw t
    }
    finally {
      pool.shutdownNow()
      ()
    }
    rows.toDF("fold", "n_train", "n_train_pos", "n_test",
      "n_test_correct", "train_loss_final")
  }

  /** Train and release diagnostics: one row per iteration
    * (iter, mean_loss) plus the final row (iter = iters) carrying the
    * trained model's training-set accuracy, the majority-class baseline,
    * and the two probe flags — `probe_loss_improved` (final mean loss <
    * initial) and `probe_beats_majority` (accuracy > baseline), both of
    * which must read true. Returns (diagnostics, weights). */
  def trainTextLogReg(
      df: DataFrame,
      textCol: Column,
      labelCol: Column,
      dim: Int = 1024,
      iters: Int = 10,
      lr: Double = 1.0
  ): (DataFrame, Array[Double]) = {
    require(dim >= 2 && dim <= 65536, s"dim must be in [2, 65536], got $dim")
    require(iters >= 1 && iters <= 1000, s"iters must be in [1, 1000], got $iters")
    require(lr > 0, s"lr must be positive, got $lr")
    val spark0 = df.sparkSession
    import spark0.implicits._
    // ONE tokenize+hash pass; every gradient step scans this bounded
    // frame (buckets + label), never the raw text again
    val feats = df.select(featurize(textCol, labelCol.cast("boolean"), dim)
        .as("f"))
      .select(col("f.buckets").as("buckets"), col("f.n").as("n"),
        col("f.y").as("y"))
      .as[LtmFeatures]
      .localCheckpoint(false)
    val w = new Array[Double](dim + 1)
    // ADAGRAD per-coordinate scaling (Duchi et al. — the standard
    // optimizer for sparse bag-of-words logreg, and measurably the right
    // one here): mean pooling makes rare-but-perfectly-predictive
    // feature buckets carry tiny gradients, so a global step either
    // crawls (lr = 2: loss moved 0.01 in 15 full-batch iters) or
    // diverges on the dense bias coordinate (lr = 25: oscillation —
    // both measured); dividing each coordinate's step by the root of
    // its OWN accumulated squared gradient gives the rare coordinates
    // near-sign-sized steps while the bias self-damps.
    val gsq = new Array[Double](dim + 1)
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    var it = 0
    while (it < iters) {
      val agg = feats.select(
        udaf(new GradAggregator(w.clone(), dim), Encoders.product[LtmFeatures])
          .apply(col("buckets"), col("n"), col("y"))).head().getStruct(0)
      val g = agg.getSeq[Double](0)
      val n = agg.getLong(2)
      require(n > 0, "trainTextLogReg: empty training frame")
      losses += agg.getDouble(1) / n
      var j = 0
      while (j <= dim) {
        val gj = g(j) / n
        gsq(j) += gj * gj
        if (gsq(j) > 0) w(j) -= lr * gj / math.sqrt(gsq(j) + 1e-12)
        j += 1
      }
      it += 1
    }
    // final accuracy at the trained weights + the majority baseline
    val evalAgg = feats.select(
      udaf(new GradAggregator(w.clone(), dim), Encoders.product[LtmFeatures])
        .apply(col("buckets"), col("n"), col("y"))).head().getStruct(0)
    val finalLoss = evalAgg.getDouble(1) / evalAgg.getLong(2)
    val accRow = feats.select(
      count(lit(1)).as("n"),
      sum(col("y")).as("npos")).head()
    val n = accRow.getLong(0)
    val nPos = accRow.getDouble(1)
    val majority = math.max(nPos, n - nPos) / n
    // accuracy via one more pass: prediction = margin > 0
    val scoreU = {
      val wl = w.clone()
      udf((buckets: Seq[Int], fn: Long) => {
        var z = wl(dim)
        if (fn > 0) {
          val inv = 1.0 / fn
          val it2 = buckets.iterator
          while (it2.hasNext) z += wl(it2.next()) * inv
        }
        z
      })
    }
    val acc = feats
      .select((when(scoreU(col("buckets"), col("n")) > 0, 1.0).otherwise(0.0)
        === col("y")).cast("long").as("ok"))
      .agg(avg(col("ok"))).head().getDouble(0)
    val diag = losses.zipWithIndex.map { case (l, i) =>
      (i.toLong, math.rint(l * 1e6) / 1e6, -1.0, -1.0, true, true)
    } :+ ((iters.toLong, math.rint(finalLoss * 1e6) / 1e6,
      math.rint(acc * 1e6) / 1e6, math.rint(majority * 1e6) / 1e6,
      finalLoss < losses.head, acc > majority))
    (diag.toSeq.toDF("iter", "mean_loss", "accuracy", "majority_baseline",
      "probe_loss_improved", "probe_beats_majority"), w)
  }
}
