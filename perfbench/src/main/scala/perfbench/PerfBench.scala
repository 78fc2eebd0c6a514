package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.dist.Distances
import graft.eval.Evaluation
import graft.local.LocalTrainer
import graft.pipeline.{Controller, SweepConfig}
import graft.tree.{ModelJson, ProximityTree}

/** Outcome of the checked operations of one run: an op fails when it throws
  * or when one of the output checks made while it runs fails.
  */
final class Ops {
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]
  private val failedOps = mutable.Set.empty[Int]

  def failed: Int = failedOps.size

  private def fail(msg: String): Unit = {
    failures += msg
    failedOps += attempted
  }

  def run[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) fail(s"$name: $detail")
}

/** One workload: `load` builds its inputs (repeated to time set-up),
  * `iteration` is one unit of timed work and returns its measurements; the
  * warm-up runs exactly the same unit. `verify` checks, after the timed
  * phase, the outputs that are too costly to check on every repetition.
  */
trait Workload {
  def load(): Map[String, Double]
  def iteration(): Map[String, Double]
  def verify(): Unit
}

object PerfBench {

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  def fileSha256(path: String): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(Paths.get(path)))
      .map(b => f"$b%02x").mkString

  def add(m: mutable.Map[String, Double], key: String, v: Double): Unit =
    m(key) = m.getOrElse(key, 0.0) + v

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def show(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.4g" }.mkString(" ")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    graft.multimodal.MediaIo.init()
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val minIters = opt("min-iters").toInt
    val setupReps = opt("setup-reps").toInt

    val spark = session(cores)
    val sc = spark.sparkContext
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer(sc, on = false)
    val ops = new Ops

    val w: Workload = workload match {
      case "ecg_sweep" =>
        new EcgSweep(spark, tracer, ops, opt("ecg"), opt("max-depth").toInt,
          opt("ks").split(",").map(_.toInt).toSeq, opt("models"))
      case "catalog_e2e" =>
        val groups = opt("groups").split(';').toSeq.map { g =>
          val Array(name, qs) = g.split('=')
          name -> qs.split(',').toSeq
        }
        new CatalogE2e(spark, tracer, ops, seed, opt("data"), groups,
          opt.get("expected"), opt.get("record"))
      case other => sys.error(s"unknown workload $other")
    }

    val listener = new JobListener
    def traceOn(on: Boolean): Unit = if (trace) {
      org.apache.spark.BenchBus.drain(sc)
      if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
      tracer.on = on
    }

    val loads = (1 to setupReps).map { _ =>
      val (m, s) = timed(w.load())
      log(f"load $s%.3f s")
      (s, m)
    }
    val warmS = (1 to opt("warmup").toInt).map { _ =>
      val (m, s) = timed(w.iteration())
      log(f"warm-up $s%.3f s " + show(m))
      s
    }.sum

    // Timed phase: repeat the unit of work for the requested time (and at
    // least minIters times). A traced run alternates traced and untraced
    // repetitions so both see the same box state; their ratio is the
    // tracing overhead.
    val iters = mutable.ArrayBuffer.empty[(Boolean, Double, Map[String, Double])]
    val t0 = System.nanoTime()
    var i = 0
    while (secondsSince(t0) < seconds || i < minIters) {
      val traced = trace && i % 2 == 0
      traceOn(traced)
      tracer.iter = i
      val (m, s) = timed(tracer.span("iteration")(w.iteration()))
      iters += ((traced, s, m))
      log(f"iteration $i traced=$traced $s%.3f s " + show(m))
      i += 1
    }
    traceOn(false)
    if (trace) org.apache.spark.BenchBus.drain(sc)
    val verifyS = timed(w.verify())._2
    log(f"verify $verifyS%.3f s")

    val micro: Map[String, Double] =
      if (trace) Micro.run(opt("ecg")) else Map.empty
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

    def numMap(m: Map[String, Double]): String =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "session_ready_ms" -> sessionReadyMs.toString,
      "loads" -> Json.arr(loads.map { case (s, m) =>
        Json.obj(Seq("s" -> Json.num(s), "metrics" -> numMap(m))) }),
      "warmup_s" -> Json.num(warmS),
      "iterations" -> Json.arr(iters.map { case (traced, s, m) =>
        Json.obj(Seq("traced" -> traced.toString, "wall_s" -> Json.num(s),
          "metrics" -> numMap(m))) }),
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "failures" -> Json.arr(ops.failures.map(Json.str)),
      "spans" -> Json.arr(tracer.spans.map(_.json)),
      "jobs" -> (if (trace) listener.json else "[]"),
      "micro" -> numMap(micro),
      "jvm" -> numMap(Map("heap_peak_mb" -> heapPeakMb, "gc_s" -> gcS))))
    Files.write(Paths.get(opt("out")), record.getBytes(StandardCharsets.UTF_8))
    log("record written")
    spark.stop()
    log("session stopped")
  }
}

/** The paper's experiment on an ECG5000-shaped set: after one
  * `Controller.prepare` (ingest, stratified split, min-max), a local forest
  * at each k and one global tree, each trained, used to predict the held-out
  * split (materialized) and evaluated, all through the controller.
  */
final class EcgSweep(
    spark: SparkSession, tracer: Tracer, ops: Ops,
    dataPath: String, maxDepth: Int, ks: Seq[Int], modelsDir: String)
    extends Workload {
  import PerfBench._

  private val cfg = SweepConfig(dataPath = dataPath, tsv = true, maxDepth = maxDepth,
    modelsDir = Some(modelsDir))
  private val globalK = ks.head
  private var train, test: DataFrame = _
  private var features: Seq[String] = Nil
  private var testRows = 0L
  private val firstSeen = mutable.Map.empty[String, String]

  def load(): Map[String, Double] = {
    Seq(train, test).filter(_ != null).foreach(_.unpersist())
    val timer = new Evaluation.StageTimer
    val (tr, te, f) = Controller.prepare(spark, cfg, timer)
    train = tr; test = te; features = f
    testRows = te.count()
    val t = timer.timings
    Map("io.ingest_s" -> t("ingestion"), "split.split_minmax_s" -> t("split_minmax"),
      "prep.normalize_s" -> t("preprocess"))
  }

  /** The same value on every repetition, or the op fails. */
  private def stable(name: String, value: String): Unit = {
    val first = firstSeen.getOrElseUpdate(name, value)
    ops.check(name, first == value, s"changed between repetitions: $first -> $value")
  }

  /** Every test row gets exactly one prediction, in the label set. */
  private def checkPredictions(name: String, pred: DataFrame): Unit = {
    val counts = pred.groupBy("prediction").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    ops.check(name, counts.values.sum == testRows,
      s"${counts.values.sum} predictions for $testRows rows")
    ops.check(name, counts.keys.forall(l => l >= 1 && l <= 5), s"labels ${counts.keys}")
  }

  /** One controller iteration, its StageTimer laid out as child spans
    * (training, prediction and evaluation run in that order); class-wise
    * metrics and the model write are what remains of the span.
    */
  private def controllerIteration(kind: String, k: Int, m: mutable.Map[String, Double])
      : Controller.IterationResult = {
    val (r, s) = timed(tracer.span(s"$kind.k$k", kind) {
      val t0 = tracer.now
      val r =
        if (kind == "local") Controller.runLocalIteration(spark, cfg, k, train, test, features)
        else Controller.runGlobalIteration(spark, cfg, k, train, test, features)
      val t = r.report.timings
      val e1 = tracer.child(s"$kind.train", kind, t0, t("training"))
      val e2 = tracer.child(s"$kind.predict", "predict", e1, t("prediction"))
      tracer.child("eval.performance", kind, e2, t("evaluation"))
      r
    })
    val t = r.report.timings
    add(m, "materialize_s", t("prediction"))
    add(m, "predicted_rows", testRows)
    add(m, "eval.performance_s", t("evaluation"))
    add(m, "eval.classwise_s", s - t("training") - t("prediction") - t("evaluation"))
    // the first forest and the global tree must clear 0.85; forests of more,
    // smaller trees (50 and 25 training rows each) must clear 0.75, still far
    // above the 0.584 majority rate
    val acc = r.report.performance.accuracy
    val name = s"$kind.k$k"
    val bar = if (kind == "global" || k == ks.head) 0.85 else 0.75
    ops.check(name, acc >= bar, s"accuracy $acc < $bar")
    ops.check(name, r.report.classWise.forall(c => c.label >= 1 && c.label <= 5),
      s"labels outside 1..5: ${r.report.classWise.map(_.label)}")
    stable(s"$name.accuracy", acc.toString)
    r
  }

  def iteration(): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    ks.foreach { k =>
      ops.run(s"local.k$k") {
        val r = controllerIteration("local", k, m)
        m(s"local.train_s.k$k") = r.report.timings("training")
        add(m, "local.predict_s", r.report.timings("prediction"))
        m(s"local.accuracy.k$k") = r.report.performance.accuracy
        if (k == ks.head) m("accuracy_local") = r.report.performance.accuracy
        stable(s"local.k$k.model", fileSha256(forestPath(k)))
      }
    }
    m("train_local_s") = ks.map(k => m.getOrElse(s"local.train_s.k$k", 0.0)).sum
    ops.run(s"global.k$globalK") {
      val r = controllerIteration("global", globalK, m)
      m("train_global_s") = r.report.timings("training")
      m("global.fit_s") = r.report.timings("training")
      m("accuracy_global") = r.report.performance.accuracy
      m("global.depth") = r.report.complexities.head.depth
      m("global.leaves") = r.report.complexities.head.leaves
      stable("global.model", fileSha256(treePath))
    }
    m("build_s") = m("train_local_s") + m.getOrElse("train_global_s", 0.0)
    m("predict_rows_per_s") = m("predicted_rows") / m("materialize_s")
    m.toMap
  }

  private def forestPath(k: Int) = s"$modelsDir/local_forest_$k.json"
  private def treePath = s"$modelsDir/global_tree_$globalK.json"

  /** The saved k = 4 forest and global tree, the scoring models, predict
    * exactly one label in 1..5 per test row.
    */
  def verify(): Unit = {
    ops.run(s"local.k${ks.head}.predictions")(checkPredictions(s"local.k${ks.head}",
      LocalTrainer.predict(spark, ModelJson.loadForest(forestPath(ks.head)), test, features)))
    ops.run(s"global.k$globalK.predictions")(checkPredictions(s"global.k$globalK",
      LocalTrainer.predictTree(spark, ModelJson.loadTree(treePath), test, features)))
  }
}

/** Catalog queries in named groups, each fully materialized to a noop sink.
  * The seed only permutes the query order, once per run: every repetition
  * runs the queries in that order, so repetitions are alike.
  */
final class CatalogE2e(
    spark: SparkSession, tracer: Tracer, ops: Ops, seed: Long, dataDir: String,
    groups: Seq[(String, Seq[String])],
    expectedPath: Option[String], recordPath: Option[String]) extends Workload {
  import PerfBench._

  private val all = groups.flatMap(_._2)
  private val order = new scala.util.Random(seed).shuffle(all)
  private val queries = SparkEntry.queries
  private val expected: Map[String, (Long, Long)] = expectedPath.map { p =>
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(p))
    node.fieldNames().asScala.map { q =>
      q -> (node.get(q).get("rows").asLong(), node.get(q).get("hash").asLong())
    }.toMap
  }.getOrElse(Map.empty)

  /** The queries open and scan their tables themselves; set-up only checks
    * that the tables are there.
    */
  def load(): Map[String, Double] = {
    val tables = new java.io.File(dataDir).list().count(_.endsWith(".parquet"))
    require(tables > 0, s"no parquet tables in $dataDir")
    Map.empty
  }

  /** `df` with an order-insensitive content digest observed while it runs:
    * row count and the sum, modulo 2^40, of a per-row hash over the columns
    * in name order, with fractional values rounded to 6 decimals so the last
    * bits of a float sum do not matter. The noop write computes it next to
    * every output row, so each repetition's output is checked at no extra
    * pass.
    */
  private def withDigest(df: DataFrame): (DataFrame, Observation) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(et, _) => transform(c, x => norm(x, et))
      case MapType(kt, vt, _) =>
        norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
          StructField("key", kt), StructField("value", vt)))))
      case StructType(fs) =>
        struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _ => c
    }
    val cols = df.schema.fields.sortBy(_.name).map(f => norm(col(s"`${f.name}`"), f.dataType))
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(pmod(xxhash64(cols.toSeq: _*), lit(1L << 40))), lit(0L)).as("hash")), obs)
  }

  private val recorded = mutable.Map.empty[String, (Long, Long)]

  def iteration(): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    order.foreach { q =>
      ops.run(q) {
        tracer.span(s"catalog.q.$q", "catalog") {
          val ((df, obs), b) = timed(tracer.span("catalog.build")(
            withDigest(queries(q)(spark, dataDir))))
          val (_, p) = timed(tracer.span("catalog.plan")(df.queryExecution.executedPlan))
          val (_, e) = timed(tracer.span("catalog.exec")(noop(df)))
          val r = obs.get
          val d = (r("rows").asInstanceOf[Long], r("hash").asInstanceOf[Long])
          if (recordPath.isDefined) recorded(q) = d
          else ops.check(q, expected.get(q).contains(d),
            s"rows/hash $d, expected ${expected.get(q)}")
          m(s"catalog.q.$q.e2e_s") = b + p + e
          add(m, "catalog.build_s", b)
          add(m, "catalog.plan_s", p)
          add(m, "catalog.exec_s", e)
        }
      }
    }
    def sum(qs: Seq[String]): Double = qs.map(q => m.getOrElse(s"catalog.q.$q.e2e_s", 0.0)).sum
    m("catalog_e2e_s") = sum(all)
    groups.foreach { case (g, qs) => m(s"catalog_${g}_s") = sum(qs) }
    m("build_s") = m.getOrElse("catalog.build_s", 0.0)
    m("materialize_s") = m.getOrElse("catalog.exec_s", 0.0)
    m.toMap
  }

  /** Every repetition checks its digests; when recording, the last ones
    * become the expectations.
    */
  def verify(): Unit =
    recordPath.foreach { p =>
      val body = recorded.toSeq.sortBy(_._1).map { case (q, (n, h)) =>
        s"""  ${Json.str(q)}: {"rows": $n, "hash": $h}"""
      }.mkString("{\n", ",\n", "\n}\n")
      Files.write(Paths.get(p), body.getBytes(StandardCharsets.UTF_8))
    }
}

/** Driver-side microbenchmarks of the distance kernels and the sequential
  * tree learner, on the generated ECG-shaped series.
  */
object Micro {
  import PerfBench._

  private def readTsv(path: String): IndexedSeq[ProximityTree.Instance] =
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq.map { line =>
      val f = line.split('\t')
      ProximityTree.Instance(f.tail.map(_.toDouble), f.head.toDouble.toInt)
    }

  /** Median over 5 rounds of seconds per call; each round runs at least
    * 50 ms so timer resolution does not matter.
    */
  private def perCall(body: Int => Double): Double = {
    var n = 1
    var sink = 0.0
    while ({ val (_, s) = timed { var i = 0; while (i < n) { sink += body(i); i += 1 } }; s < 0.05 })
      n *= 2
    val rounds = (1 to 5).map { _ =>
      val (_, s) = timed { var i = 0; while (i < n) { sink += body(i); i += 1 } }
      s / n
    }.sorted
    if (sink == 42.4242) println(sink) // keeps the loop's result alive
    rounds(2)
  }

  def run(ecgPath: String): Map[String, Double] = {
    val data = readTsv(ecgPath)
    val series = data.map(_.ts)
    val pairs = series.length - 1
    val dist = Distances.defaultPool.map { m =>
      s"dist.${m.name}.us_per_call" ->
        perCall(i => m(series(i % pairs), series(i % pairs + 1))) * 1e6
    }
    val slice = data.take(300)
    val params = Controller.treeParams(SweepConfig(dataPath = ecgPath))
    val fits = (1 to 3).map(_ => timed(ProximityTree.fit(slice, params)))
    val model = fits.head._1
    val rest = series.drop(300)
    val predict = perCall(i => model.predictOne(rest(i % rest.length)).toDouble)
    (dist ++ Seq(
      "tree.fit_s" -> fits.map(_._2).sorted.apply(1),
      "tree.predict_us_per_row" -> predict * 1e6)).toMap
  }
}
