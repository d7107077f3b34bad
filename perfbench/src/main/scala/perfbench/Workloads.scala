package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.etl.{Cleaning, Etl, Sampling, Split}
import graft.ext.Dedup
import graft.ml.{Evaluator, Featurize, Model, Trainer}
import graft.streaming.ScoreStream

/** An output check that failed: the operation counts as failed, its
  * time is dropped. */
final class CheckFailed(msg: String) extends Exception(msg)

object Check {
  def apply(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)
}

/** What one operation did: its timed seconds (checks excluded) and
  * named sub-timings in milliseconds. */
final case class OpOut(seconds: Double, partsMs: Map[String, Double] = Map.empty)

/** One benchmark workload: a set-up, a repeatable operation driven by a
  * single closed-loop client, and the checks on its outputs. `op` runs
  * untraced when `tr` is empty; traced, it wraps each layer call in a
  * span and forces that layer's output so the span holds its own work. */
abstract class Workload(val name: String) {
  protected var spark: SparkSession = _
  protected var gen: Gen = _
  protected var dir: Path = _

  def genParams: GenParams
  /** Set-ups per run; `setup_s` is the median of all but the first. */
  def setupRepeats: Int = 3
  /** Named end-to-end figures of this workload, as (name, unit, value). */
  def named(opMs: Seq[Double], parts: Map[String, Seq[Double]]): Seq[(String, String, Double)]

  def setup(s: SparkSession, seed: Long, work: Path): Unit = {
    spark = s; gen = new Gen(seed, genParams); dir = work
    Files.createDirectories(work)
    prepare()
  }
  protected def prepare(): Unit
  def op(tr: Option[Tracer]): OpOut
  /** Run-level quality figure (higher is better, in [0, 1]). */
  def quality: Double
  /** End-of-run checks, outside the timed region. */
  def finish(): Unit = ()
  /** Model statistics for the per-layer report, when a model exists. */
  def modelStats: Map[String, Double] = Map.empty
  def close(): Unit = ()

  protected def path(n: String): String = dir.resolve(n).toString

  /** Epoch-nanosecond bounds of the current operation's timed region(s). */
  var window: (Long, Long) = (0L, 0L)

  protected def timed[T](body: => T): (T, Double) = {
    val start = System.currentTimeMillis() * 1000000L
    val t0 = System.nanoTime()
    val r = body
    val dur = System.nanoTime() - t0
    window = (if (window._1 == 0L) start else window._1, start + dur)
    (r, dur / 1e9)
  }

  /** Traced span when tracing, plain call otherwise. */
  protected def span[T](tr: Option[Tracer], n: String)(body: => T): T =
    tr.fold(body)(_.span(n)(body))

  protected def narrativesDf(rows: Seq[Narrative]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map(r => (r.id, r.merchant, r.narrative)).toDF("id", "merchant", "narrative")
  }
}

object Workload {
  def apply(name: String): Workload = name match {
    case "train_eval" => new TrainEval
    case "ingest" => new Ingest
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Corpus shape of the classifier workloads: 40 Zipf-skewed merchants
    * behind noisy narratives. */
  val merchantCorpus = GenParams(merchants = 40, zipfS = 0.7, pPaypal = 0.15,
    pDate = 0.6, pStore = 0.4, pAmount = 0.4, fillerTokens = 3, nearDupShare = 0.0)
  val corpusRows = 6000
  val etlCfg = Etl.Config(labelCol = "merchant", textCol = "narrative", keyCol = "id",
    sampleSize = 60, countThreshold = 20, splitFraction = 0.9)
  val trainParams = Trainer.Params(epoch = 5, wordNgrams = 2, numFeatures = 1 << 12)
}

/** Full reference path per operation: clean+label → stratified sample →
  * split → train → predict held-out → evaluate. */
final class TrainEval extends Workload("train_eval") {
  import Workload._
  /** Planted-signal floor: merchant names are distinct tokens, so a
    * working classifier separates them almost perfectly. */
  val accFloor = 0.9
  def genParams: GenParams = merchantCorpus
  /** Set-up only writes the corpus (about 0.4 s warm), so its median
    * needs more repeats than the training set-up to be steady. */
  override def setupRepeats: Int = 9
  private val accs = mutable.ArrayBuffer.empty[Double]
  private var stats = Map.empty[String, Double]

  protected def prepare(): Unit =
    narrativesDf(gen.corpus(0, corpusRows)).write.mode("overwrite").parquet(path("raw"))

  def op(tr: Option[Tracer]): OpOut = {
    val raw = spark.read.parquet(path("raw"))
    val (res, sec) = tr match {
      case None => timed {
        val (train, test) = Etl.run(raw, etlCfg)
        val model = Trainer.train(train, "merchant", "text_clean", trainParams)
        val acc = Evaluator.summary(model.predict(test, "text_clean", "pr_label"),
          "merchant", "pr_label").collect().head.getAs[Double]("avg__acc")
        (model, acc, train, test, Etl.cleanAndLabel(raw, etlCfg), Seq.empty[DataFrame])
      }
      case Some(t) => timed {
        val (labeled, nIn) = t.span("etl.clean") {
          val r = t.persist(Etl.cleanAndLabel(raw, etlCfg)); t.attr("rows", r._2.toDouble); r
        }
        val (sampled, _) = t.span("etl.sample") {
          val r = t.persist(Sampling.sampleDataDeterministic(labeled, "merchant", "id",
            etlCfg.sampleSize, etlCfg.countThreshold))
          t.attr("kept_frac", r._2.toDouble / nIn); r
        }
        val (withPct, _) = t.span("etl.split") {
          t.persist(Split.addClassPercentileDeterministic(sampled, "merchant", "id"))
        }
        val (train, test) = Split.split(withPct, etlCfg.splitFraction)
        val model = t.span("ml.train")(Trainer.train(train, "merchant", "text_clean", trainParams))
        val (scored, _) = t.span("ml.predict") {
          val r = t.persist(model.predict(test, "text_clean", "pr_label")); t.attr("rows", r._2.toDouble); r
        }
        val acc = t.span("ml.evaluate") {
          Evaluator.summary(scored, "merchant", "pr_label").collect().head.getAs[Double]("avg__acc")
        }
        (model, acc, train, test, labeled, Seq(labeled, sampled, withPct, scored))
      }
    }
    val (model, acc, train, test, labeled, cached) = res
    try {
      Check(acc >= accFloor, f"avg accuracy $acc%.4f below planted-signal floor $accFloor")
      val nS = Sampling.sampleDataDeterministic(labeled, "merchant", "id",
        etlCfg.sampleSize, etlCfg.countThreshold).count()
      val perId = train.select(col("id"), lit(0L).as("t"))
        .unionByName(test.select(col("id"), lit(1L).as("t")))
        .groupBy("id").agg(count(lit(1)).as("n"), sum("t").as("t"))
        .agg(count(lit(1)), max("n"), sum("t")).head()
      val (ids, most, nTe) = (perId.getLong(0), perId.getLong(1), perId.getLong(2))
      Check(most == 1, s"an id sits in both train and test")
      Check(ids == nS && nTe > 0, s"split covers $ids ids ($nTe test) of a sample of $nS")
    } finally cached.foreach(_.unpersist())
    accs += acc
    stats = Map("ml.train.iterations" -> model.lrModel.summary.totalIterations.toDouble,
      "ml.model.nnz" -> model.lrModel.coefficientMatrix.numNonzeros.toDouble)
    OpOut(sec)
  }

  def quality: Double = Stats.median(accs.toSeq)
  override def modelStats: Map[String, Double] = stats
  def named(opMs: Seq[Double], parts: Map[String, Seq[Double]]) =
    Seq(("pipeline_s", "s", Stats.median(opMs) / 1000), ("eval_avg_acc", "frac", quality))
}

/** The ingest path for arriving narratives. Set-up trains the model and
  * builds a MinHash band index over the corpus. Each operation takes one
  * small event-time-stamped micro-batch through three steps, each timed:
  *  1. the batch lands in a parquet stream source and one trigger of the
  *     watermarked scored window counts runs; the client waits for the
  *     commit;
  *  2. one CDC change batch (inserts, updates, deletes) updates the index;
  *  3. the micro-batch probes the index for near-duplicates. */
final class Ingest extends Workload("ingest") {
  import Workload._
  def genParams: GenParams = merchantCorpus.copy(nearDupShare = 0.3)
  val batchRows = 200
  /** Event-time span of one micro-batch; windows are one minute and the
    * watermark five, so no event is ever late. */
  val batchSpanMs = 20000L
  val changeRows = 8
  val numHashes = 8
  val bands = 4
  /** 16 prefix dirs, the program's default layout. */
  val prefixChars = 1
  private val arrivalIds = 1000000000L
  private val base = java.sql.Timestamp.valueOf("2021-06-01 00:00:00").getTime
  private val schema = StructType(Seq(StructField("id", LongType), StructField("narrative", StringType),
    StructField("ts", TimestampType), StructField("value", DoubleType)))
  private var model: Model = _
  private var query: StreamingQuery = _
  private val sink = new java.util.concurrent.ConcurrentHashMap[(Long, String), (Long, Double)]()
  private val truth = mutable.Map.empty[(Long, String), Long]
  private var appended = 0L
  private var batches = 0
  private val corpus = mutable.TreeMap.empty[Long, String]
  private var nextId = 0L
  private var seq = 0L
  private var lastProbe: (DataFrame, Set[(Long, Long, Double)]) = _

  private def sinkRows: Long = { var n = 0L; sink.values.forEach(v => n += v._1); n }

  override def modelStats: Map[String, Double] = Map(
    "ml.train.iterations" -> model.lrModel.summary.totalIterations.toDouble,
    "ml.model.nnz" -> model.lrModel.coefficientMatrix.numNonzeros.toDouble)

  private def cleaned(df: DataFrame): DataFrame =
    df.withColumn("text_clean", Cleaning.cleanCol(col("narrative")))

  private def textDf(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "text")
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  protected def prepare(): Unit = {
    val rows = gen.corpus(0, corpusRows)
    narrativesDf(rows).write.mode("overwrite").parquet(path("raw"))
    val (train, _) = Etl.run(spark.read.parquet(path("raw")), etlCfg)
    model = Trainer.train(train, "merchant", "text_clean", trainParams)

    corpus.clear(); rows.foreach(n => corpus(n.id) = n.narrative)
    nextId = corpusRows; seq = 0
    Dedup.writeBandIndex(spark.read.parquet(path("raw")).select(col("id"), col("narrative").as("text")),
      "text", "id", path("index"), numHashes, bands, prefixChars)

    sink.clear(); truth.clear(); appended = 0L; batches = 0
    Seq("src", "ckpt", "stage").foreach(d => deleteTree(dir.resolve(d)))
    Files.createDirectories(dir.resolve("src"))
    val events = ScoreStream.readEventsStream(spark, path("src"), schema)
    query = ScoreStream.scoredWindowedCounts(cleaned(events), model, "text_clean", "ts")
      .writeStream.outputMode("update")
      .option("checkpointLocation", path("ckpt"))
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach { r =>
          sink.put((r.getAs[java.sql.Timestamp]("window_start").getTime, r.getAs[String]("pr_label")),
            (r.getAs[Long]("n"), r.getAs[Double]("total_value")))
        }
      }.start()
  }

  /** Batch-mode spans over one micro-batch: clean, featurize, predict. */
  private def layerSpans(t: Tracer, df: DataFrame): Unit = {
    val (c, _) = t.span("etl.clean") {
      val r = t.persist(cleaned(df)); t.attr("rows", r._2.toDouble); r
    }
    t.span("ml.featurize")(t.noop(Featurize.addFeatures(c, "text_clean", "__f", model.params)))
    val (scored, _) = t.span("ml.predict") {
      val r = t.persist(model.predict(c, "text_clean", "pr_label")); t.attr("rows", r._2.toDouble); r
    }
    Seq(c, scored).foreach(_.unpersist())
  }

  def op(tr: Option[Tracer]): OpOut = {
    val k = batches; batches += 1
    val batch = gen.narratives(2000 + k, batchRows, idBase = arrivalIds + k.toLong * batchRows)
    val rows = batch.zipWithIndex.map { case (b, j) =>
      val ts = base + k * batchSpanMs + j * batchSpanMs / batchRows
      val cell = (ts / 60000L * 60000L, b.merchant)
      truth(cell) = truth.getOrElse(cell, 0L) + 1
      (b.id, b.narrative, new java.sql.Timestamp(ts), (b.id % 9973) / 100.0)
    }
    val ids = corpus.keys.toIndexedSeq
    val changes = (0 until changeRows).map { j =>
      val draw = k.toLong * changeRows + j
      val target = ids(gen.pick(3000, draw, ids.size))
      seq += 1
      gen.pick(3001, draw, 10) match {
        case c if c < 4 => nextId += 1; (nextId, gen.nearDup(corpus(target), 3002, draw), seq, "i")
        case c if c < 8 => (target, gen.narrative(3003, draw).narrative, seq, "u")
        case _ => (target, null, seq, "d")
      }
    }
    val s = spark
    import s.implicits._
    val stage = path(s"stage/b$k")
    rows.toDF("id", "narrative", "ts", "value").coalesce(1).write.parquet(stage)
    val file = Files.list(dir.resolve(s"stage/b$k")).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    val changeDf = changes.toDF("id", "text", "seq", "op")
    val probeDf = textDf(batch.map(b => (b.id, b.narrative)))
    tr.foreach(t => layerSpans(t, spark.read.parquet(stage).select("id", "narrative")))

    val (_, streamS) = timed(span(tr, "stream.trigger") {
      Files.move(file, dir.resolve(f"src/b$k%06d.parquet"))
      appended += batchRows
      val deadline = System.nanoTime() + 60e9.toLong
      while (sinkRows < appended && System.nanoTime() < deadline) query.processAllAvailable()
    })
    Check(sinkRows == appended, s"sink holds $sinkRows of $appended appended rows")
    val (touched, cdcS) = timed(span(tr, "dedup.update") {
      val r = Dedup.updateBandIndex(path("index"), changeDf, "text", "id")
      tr.foreach(_.attr("touched_frac", r.length / math.pow(16, prefixChars)))
      r
    })
    Check(touched.nonEmpty, "change batch touched no prefix")
    changes.foreach { case (id, text, _, op) => if (op == "d") corpus.remove(id) else corpus(id) = text }
    val (matches, probeS) = timed(span(tr, "dedup.probe") {
      val (m, pfx, total) = Dedup.minhashMatchesIndexedWithEvidence(path("index"), probeDf, "id", "text")
      tr.foreach(_.attr("pfx_frac", pfx.length.toDouble / total))
      m.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    })
    lastProbe = (probeDf, matches)
    OpOut(streamS + cdcS + probeS,
      Map("stream_ms" -> streamS * 1000, "cdc_update_ms" -> cdcS * 1000, "probe_ms" -> probeS * 1000))
  }

  override def finish(): Unit = {
    val batch = ScoreStream.scoredWindowedCounts(
      cleaned(spark.read.schema(schema).parquet(path("src"))), model, "text_clean", "ts")
      .collect().map(r => (r.getAs[java.sql.Timestamp]("window_start").getTime, r.getAs[String]("pr_label")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("total_value"))).toMap
    val streamed = sink.entrySet().toArray(Array.empty[java.util.Map.Entry[(Long, String), (Long, Double)]])
      .map(e => e.getKey -> e.getValue).toMap
    Check(sinkRows == appended, s"window counts sum to $sinkRows, appended $appended")
    Check(streamed == batch, s"streamed windows (${streamed.size}) differ from the batch result (${batch.size})")

    val live = textDf(corpus.toSeq)
    Dedup.writeBandIndex(live, "text", "id", path("fresh"), numHashes, bands, prefixChars)
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(key, "false")
    try {
      val (a, b) = (spark.read.parquet(path("index")), spark.read.parquet(path("fresh")))
      val cols = b.columns.sorted.toIndexedSeq.map(col)
      val (x, y) = (a.select(cols: _*), b.select(cols: _*))
      val (nA, nB) = (x.count(), y.count())
      Check(nA == nB && x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
        s"maintained index ($nA rows) differs from a fresh build ($nB rows)")
    } finally spark.conf.unset(key)
    if (lastProbe != null) {
      val ref = Dedup.minhashMatches(lastProbe._1, live, "id", "text", numHashes, bands)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      Check(ref == lastProbe._2, s"indexed probe (${lastProbe._2.size} pairs) differs from unindexed (${ref.size})")
    }
  }

  /** Share of events counted in their true (window, merchant) cell. */
  def quality: Double = {
    var hit = 0L
    truth.foreach { case (key, n) => hit += math.min(n, Option(sink.get(key)).map(_._1).getOrElse(0L)) }
    hit.toDouble / math.max(appended, 1L)
  }

  override def close(): Unit = if (query != null) { query.stop(); query = null }

  def named(opMs: Seq[Double], parts: Map[String, Seq[Double]]) = {
    val stream = parts.getOrElse("stream_ms", Nil)
    val (p, tail) = Stats.tail(stream)
    Seq(("stream_latency_p50_ms", "ms", Stats.median(stream)),
      ("stream_latency_tail_ms", "ms", tail), ("stream_latency_tail_pct", "%", p),
      ("cdc_update_p50_ms", "ms", Stats.median(parts.getOrElse("cdc_update_ms", Nil))),
      ("probe_p50_ms", "ms", Stats.median(parts.getOrElse("probe_ms", Nil))),
      ("stream_count_accuracy", "frac", quality))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest whole percentile with at least ten samples above it,
    * and the value there; (NaN, NaN) when there are too few samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.length
    if (n < 11) (Double.NaN, Double.NaN)
    else {
      val pct = math.floor(100.0 * (n - 10) / n)
      val s = xs.sorted
      (pct, s(math.min(n - 1, math.ceil(pct / 100 * n).toInt - 1)))
    }
  }
}
