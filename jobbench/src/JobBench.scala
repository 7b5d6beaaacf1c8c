package jobbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.app.VehiclesPipelines
import graft.core.Tables
import graft.ml.PricePipeline
import graft.operators.{DedupOps, GraphOps, SimilarityOps, SnapshotOps}
import graft.streaming.{CdcStream, DedupStream}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Closed-loop job benchmark: a single thread issues a workload's calls
  * in order, pass after pass, on `local[cores]`.
  *
  * A call is one invocation of a repo layer's public function,
  * materialized by `collect()` and timed on its own. After the timer
  * stops, the collected rows are digested (row count plus an
  * order-insensitive hash) so every pass can be checked against the
  * warm-up pass; fits report their metrics instead. On the warm-up pass
  * the outputs of calls that have a DuckDB oracle are written as parquet
  * for the caller to check, next to the oracle SQL.
  *
  * Traced passes (`--trace 1`, alternating with untraced ones) register
  * [[Recorder]]'s listeners and attribute every job, stage, task, query
  * plan and micro-batch to the call whose wall window holds it.
  *
  * Everything is kept in memory and written once, as JSON, to `--out`
  * when the run ends.
  *
  * Usage: `JobBench --workload <name> --input <dir> --work <dir>
  * --seconds <s> --trace <0|1> --cores <n> --out <file>`
  */
object JobBench {

  // ---------------------------------------------------------------- records

  final case class CallRec(
      step: String, name: String, layer: String,
      startMs: Long, endMs: Long, wallNs: Long, cpuNs: Long, gcMs: Long,
      ok: Boolean, error: String, rows: Long, digest: String,
      fit: Seq[(String, Double)])

  final case class SpanRec(id: Int, parent: Int, layer: String, name: String,
                           wallNs: Long)

  final case class PassRec(idx: Int, kind: String, calls: Seq[CallRec],
                           spans: Seq[SpanRec], liveHeapBytes: Long,
                           layers: Map[String, Map[String, Double]])

  // ------------------------------------------------------------------- pass

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcMillis(): Long = {
    val it = ManagementFactory.getGarbageCollectorMXBeans.iterator()
    var s = 0L
    while (it.hasNext) s += math.max(0L, it.next().getCollectionTime)
    s
  }

  /** One pass's call log. `dump` names the directory the warm-up pass
    * writes oracle-checked outputs to.
    */
  final class Pass(val idx: Int, val spark: SparkSession, dump: Option[String]) {
    val calls = ArrayBuffer.empty[CallRec]
    val spans = ArrayBuffer.empty[SpanRec]
    private var parent = -1
    /** Wall-clock start of the call in flight, 0 between calls. */
    @volatile var callStartMs = 0L

    private def timed[T](step: String, name: String, layer: String)(
        f: => T): (Option[T], CallRec) = {
      val t0ms = System.currentTimeMillis()
      callStartMs = t0ms
      val gc0 = gcMillis()
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val res = span(layer, name)(try Right(f) catch { case NonFatal(e) => Left(e) })
      val wall = System.nanoTime() - t0
      val cpu = os.getProcessCpuTime - cpu0
      val t1ms = System.currentTimeMillis()
      callStartMs = 0L
      val rec = CallRec(step, name, layer, t0ms, t1ms, wall, cpu,
        gcMillis() - gc0, ok = res.isRight,
        error = res.left.toOption.map(describe).getOrElse(""),
        rows = -1L, digest = "", fit = Nil)
      (res.toOption, rec)
    }

    /** A span of `layer`; nested spans are its children. Around several
      * calls, its self time is the glue between them.
      */
    def span[T](layer: String, name: String)(f: => T): T = {
      val id = spans.length
      spans += null
      val saved = parent
      parent = id
      val t0 = System.nanoTime()
      try f finally {
        spans(id) = SpanRec(id, saved, layer, name, System.nanoTime() - t0)
        parent = saved
      }
    }

    /** Call `f`, collect its output inside the timer, digest it outside.
      * `skip` leaves out of the digest the columns that legitimately
      * differ between passes; `oracle` names the query whose DuckDB
      * oracle checks the warm-up output. Returns the frame on success.
      */
    def rows(step: String, name: String, layer: String,
             oracle: Option[String] = None,
             skip: Seq[String] = Nil)(
        f: => DataFrame): Option[DataFrame] = {
      val (res, rec) = timed(step, name, layer) {
        val df = f
        (df, df.collect())
      }
      res match {
        case Some((df, got)) =>
          val idx = df.columns.indices.filterNot(i => skip.contains(df.columns(i)))
          calls += rec.copy(rows = got.length.toLong, digest = digest(got, idx))
          for (d <- dump; q <- oracle) {
            spark.createDataFrame(java.util.Arrays.asList(got: _*), df.schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$d/$q")
          }
          Some(df)
        case None =>
          calls += rec
          None
      }
    }

    /** A model fit + evaluation returning (name, r2, r2adj, mse, rmse, mae). */
    def fit(step: String, name: String)(
        f: => (String, Double, Double, Double, Double, Double)): Unit = {
      val (res, rec) = timed(step, name, "ml.fit_eval")(f)
      calls += (res match {
        case Some((_, r2, r2adj, mse, rmse, mae)) =>
          rec.copy(rows = 1L, fit = Seq("r2" -> r2, "r2adj" -> r2adj,
            "mse" -> mse, "rmse" -> rmse, "mae" -> mae))
        case None => rec
      })
    }

    /** A call that could not be attempted because its input failed. */
    def skipped(step: String, name: String, layer: String,
                why: String): Unit = {
      val now = System.currentTimeMillis()
      calls += CallRec(step, name, layer, now, now, 0L, 0L, 0L,
        ok = false, error = why, rows = -1L, digest = "", fit = Nil)
    }
  }

  private def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator
      .take(1).mkString.take(300)
    s"${e.getClass.getName}: $msg"
  }

  /** Order-insensitive digest: the wrapping sum of a 64-bit hash of each
    * row's canonical text. Floats are rendered at 9 significant digits so
    * a changed summation order across passes does not change the digest.
    */
  def digest(rows: Array[Row], idx: Seq[Int]): String = {
    import scala.util.hashing.MurmurHash3
    var sum = 0L
    rows.foreach { r =>
      val s = idx.map(i => canon(r.get(i))).mkString("\u0001")
      val h = (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
      sum += h
    }
    f"${rows.length}%d:$sum%016x"
  }

  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => if (d.isNaN) "NaN" else String.format(Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case vec: org.apache.spark.ml.linalg.Vector => canon(vec.toArray)
    case other => other.toString
  }

  // -------------------------------------------------------------- workloads

  /** Each pass of a workload issues the same calls in the same order.
    * A call's `step` names the user-visible job it belongs to.
    */
  def runWorkload(name: String, p: Pass, input: String): Unit = name match {
    case "vehicles_jobs" => vehicles(p, s"$input/vehicles.csv")
    case "corpus_dedup" => corpus(p, input)
    case "incremental_ingest" => ingest(p, input)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val treeModels = Set("DecisionTree", "RandomForest", "GradientBoosting")

  /** Warm-up passes before timing starts. On a 4-core host a vehicles pass
    * right after the first still runs 20-30% slow while the JIT catches
    * up; the fixture workloads lose 10-15% there, too little to pay a
    * second pass for.
    */
  val warmups = Map("vehicles_jobs" -> 2, "corpus_dedup" -> 1, "incremental_ingest" -> 1)

  private def vehicles(p: Pass, csv: String): Unit = {
    import VehiclesPipelines._
    val spark = p.spark
    def df = load(spark, csv)

    // P1: data understanding
    val u = "understanding"
    p.rows(u, "listingsPerManufacturer", "app")(
      DataUnderstanding.listingsPerManufacturer(df))
    p.rows(u, "dealerCategories", "app")(DataUnderstanding.dealerCategories(df))
    // ties on the oldest year make the chosen rows arbitrary; the years are not
    p.rows(u, "oldestCars", "app",
      skip = Seq("manufacturer", "model", "description"))(
      DataUnderstanding.oldestCars(df))
    // percentile_approx depends on merge order; counts do not
    p.rows(u, "statePriceMedians", "app", skip = Seq("median_price"))(
      DataUnderstanding.statePriceMedians(df))
    p.rows(u, "salvageShareByState", "app")(DataUnderstanding.salvageShareByState(df))

    // P2: cleaning; `index` is positional after a shuffle, so not digested
    val c = "cleaning"
    p.rows(c, "clean", "app", skip = Seq("index"))(Cleaning.clean(df))
    p.rows(c, "skewnessReport", "app")(Cleaning.skewnessReport(Cleaning.clean(df)))

    // P3: featurize once, then every reference regressor on the same split
    p.span("app", "PricePrediction") {
      val data = p.rows("price_models", "featurize", "ml.featurize")(
        PricePrediction.featurize(df).cache())
      try {
        val split = data.map(_.randomSplit(Array(0.8, 0.2), seed = 42))
        // the first warm-up pass skips the FM fit: its hundred optimizer
        // rounds are job-latency bound and one warm fit is enough
        val regressors = PricePipeline.regressors
          .filterNot { case (n, _) => p.idx == 0 && n == "FMRegressor" }
        regressors.foreach { case (n, reg) =>
          val step = if (treeModels(n)) "price_trees" else "price_models"
          split match {
            case Some(Array(train, test)) =>
              p.fit(step, n)(PricePipeline.fitEval(n, reg, train, test))
            case _ => p.skipped(step, n, "ml.fit_eval", "featurize failed")
          }
        }
      } finally data.foreach(_.unpersist())
    }

    // P4: recommendation
    p.span("app", "Recommendation") {
      val rec = p.rows("recommend", "deriveFeatures", "app")(
        Recommendation.deriveFeatures(df))
      rec match {
        case Some(r) =>
          p.rows("recommend", "recommend", "ml.recommend")(
            Recommendation.recommend(spark, r, "American", "light color",
              "luxury_small", (2000, 50000)))
        case None =>
          p.skipped("recommend", "recommend", "ml.recommend",
            "deriveFeatures failed")
      }
    }
  }

  private def corpus(p: Pass, dir: String): Unit = {
    val t = Tables(p.spark, dir)
    p.rows("near_dup", "minhashDupPairs", "operators", Some("dedup_minhash"))(
      DedupOps.minhashDupPairs(t, 0.3))
    p.rows("clusters", "dupClusters", "operators", Some("dedup_clusters"))(
      DedupOps.dupClusters(t, 0.5))
    p.rows("clusters", "revisionChainClusters", "operators",
      Some("dedup_revision_chains"))(GraphOps.revisionChainClusters(t))
    p.rows("knn", "knnJoinLsh", "operators", Some("ann_knn_join"))(
      SimilarityOps.knnJoinLsh(t, 3))
  }

  private def ingest(p: Pass, dir: String): Unit = {
    val t = Tables(p.spark, dir)
    val q = s"jobbench_mhs_${p.idx}_${System.nanoTime()}"
    p.rows("stream_dedup", "minhashPairs", "streaming",
      Some("dedup_minhash_streaming"))(
      DedupStream.minhashPairs(p.spark, dir, q, 0.3))
    p.spark.catalog.dropTempView(q)
    p.rows("cdc_apply", "mergeApplyRoundtrip", "operators",
      Some("merge_apply_roundtrip"))(SnapshotOps.mergeApplyRoundtrip(t))
    p.rows("cdc_apply", "multibatchApplyRoundtrip", "operators",
      Some("merge_apply_multibatch"))(SnapshotOps.multibatchApplyRoundtrip(t))
    p.rows("rollup_refresh", "streamedRollupGate", "streaming",
      Some("agg_incremental_rollup_streamed"))(CdcStream.streamedRollupGate(t))
  }

  val oracleQueries = Seq("dedup_minhash", "dedup_clusters",
    "dedup_revision_chains", "ann_knn_join", "dedup_minhash_streaming",
    "merge_apply_roundtrip", "merge_apply_multibatch",
    "agg_incremental_rollup_streamed")

  // ---------------------------------------------------------------- session

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("jobbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    selfCheck(spark, cores)
    spark
  }

  /** Fails the run unless the session has the settings graft.Bench uses. */
  def selfCheck(spark: SparkSession, cores: Int): Unit = {
    val conf = spark.conf
    val problems = Seq(
      "ansi off" -> (conf.get("spark.sql.ansi.enabled") == "false"),
      "GraftExtensions" -> conf.get("spark.sql.extensions").contains("graft.plans.GraftExtensions"),
      "graft_dot registered" -> spark.catalog.functionExists("graft_dot"),
      "UTC" -> (conf.get("spark.sql.session.timeZone") == "UTC"),
      "shuffle partitions = cores" -> (conf.get("spark.sql.shuffle.partitions") == cores.toString),
      s"local[$cores]" -> (spark.sparkContext.master == s"local[$cores]"),
      "parallelism = cores" -> (spark.sparkContext.defaultParallelism == cores)
    ).collect { case (what, false) => what }
    require(problems.isEmpty, s"session self-check failed: ${problems.mkString(", ")}")
  }

  // ------------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val input = a("input")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val out = a("out")

    val spark = session(cores, work)
    val sessionReadyMs = System.currentTimeMillis()

    val watchdog = new Watchdog(spark, callLimitMs = 60000L)
    watchdog.start()
    val passes = ArrayBuffer.empty[PassRec]
    def runPass(idx: Int, kind: String, dump: Option[String]): Unit = {
      val rec = if (kind == "traced") Some(new Recorder(spark, cores)) else None
      rec.foreach(_.install())
      val p = new Pass(idx, spark, dump)
      watchdog.watch(p)
      try runWorkload(workload, p, input) finally watchdog.watch(null)
      val layers = rec.map(_.finish(p.calls.toSeq)).getOrElse(Map.empty)
      // a full collection after the pass leaves only what the session
      // retains: cached frames, checkpoints, state, memory-sink tables
      System.gc()
      val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      passes += PassRec(idx, kind, p.calls.toSeq, p.spans.toSeq, live, layers)
    }

    runPass(0, "warmup", Some(s"$work/outputs"))
    (1 until warmups(workload)).foreach(runPass(_, "warmup", None))
    val readyMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    // traced runs alternate traced and untraced passes
    val minPasses = if (trace) 2 else 1
    var n = 0
    while (n < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val kind = if (trace && n % 2 == 0) "traced" else "timed"
      runPass(warmups(workload) + n, kind, None)
      n += 1
    }
    watchdog.halt()

    Files.write(Paths.get(s"$work/oracle_sql.json"),
      Json.obj(oracleQueries.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q))))
        .getBytes(StandardCharsets.UTF_8))
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "session_ready_ms" -> sessionReadyMs.toString,
      "ready_ms" -> readyMs.toString,
      "passes" -> Json.arr(passes.map(passJson).toSeq)))
    Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def passJson(p: PassRec): String = Json.obj(Seq(
    "idx" -> p.idx.toString,
    "kind" -> Json.str(p.kind),
    "live_heap_bytes" -> p.liveHeapBytes.toString,
    "calls" -> Json.arr(p.calls.map { c =>
      Json.obj(Seq(
        "step" -> Json.str(c.step),
        "name" -> Json.str(c.name), "layer" -> Json.str(c.layer),
        "wall_s" -> Json.num(c.wallNs / 1e9), "cpu_s" -> Json.num(c.cpuNs / 1e9),
        "gc_ms" -> c.gcMs.toString,
        "ok" -> c.ok.toString, "error" -> Json.str(c.error),
        "rows" -> c.rows.toString, "digest" -> Json.str(c.digest),
        "fit" -> Json.obj(c.fit.map { case (k, v) => k -> Json.num(v) })))
    }),
    "spans" -> Json.arr(p.spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "wall_s" -> Json.num(s.wallNs / 1e9)))
    }),
    "layers" -> Json.obj(p.layers.toSeq.sortBy(_._1).map { case (call, m) =>
      call -> Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    })))
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
