package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

import graft.ml.NslKddFlow

/** The benchmark's driver process: one workload, one seed, one client, in one
  * `local[N]` session. Inputs are generated beforehand by `run.py`; this
  * process sets up, runs timed rounds (a workload's fixed number, or as many
  * as start within the given number of seconds), checks the outputs and
  * writes a JSON report that `run.py` turns into metrics.
  *
  *   perfbench.Main --mode run --workload corpus --seed 1 --seconds 10
  *     --trace 0 --data <inputs dir> --out <report dir> --cpus 4
  *   perfbench.Main --mode selftest --data <inputs dir> --out <dir> --cpus 4
  */
object Main {
  /** The flow's configuration: the reference's `Config` with a smaller forest
    * and two clusters seeded in two k-means|| steps, so that one flow fits a
    * run of a few seconds (on 4 cores, k = 8 with 25 init steps took 12 s to
    * fit at these sizes).
    */
  val flowConfig: NslKddFlow.Config =
    NslKddFlow.Config(k = 2, numTrees = 10, maxDepth = 8, kmeansInitSteps = 2)

  val corpusQueries: Seq[String] = Seq(
    "q178_neardup_triangles", "q97_bpe_train", "q17_text_stats",
    "q22_minhash_neardup", "q24_ann_cosine_topk", "q01_pricing_summary",
    "q29_sessionization")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = opt("out")
    new File(out).mkdirs()
    val cpus = opt("cpus").toInt
    val mode = opt.getOrElse("mode", "run")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionSecs = (System.nanoTime() - t0) / 1e9
    val report =
      try if (mode == "selftest") selftest(spark, opt) else run(spark, opt, sessionSecs)
      finally spark.stop()
    val w = new PrintWriter(s"$out/report.json")
    try w.write(Json(report)) finally w.close()
  }

  private def run(spark: SparkSession, opt: Map[String, String], sessionSecs: Double): Map[String, Any] = {
    val (data, out) = (opt("data"), opt("out"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val rec = new Recorder(spark, traced)
    val wl: Workload = opt("workload") match {
      case "corpus" => new CorpusWorkload(spark, data, out, seed, corpusQueries)
      case "nslkdd_flow" =>
        new FlowWorkload(spark, s"$data/train.csv", s"$data/test.csv", flowConfig)
      case "index_lifecycle" =>
        new IndexWorkload(spark, data, s"$out/warehouse", seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupStart = System.nanoTime()
    wl.setup(rec)
    val setupSecs = sessionSecs + (System.nanoTime() - setupStart) / 1e9
    val setupOk = rec.setup.forall(_.error.isEmpty)

    // timed rounds: the workload's fixed count, or whole rounds until the time is up
    val rounds = scala.collection.mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    def more = wl.fixedRounds.fold((System.nanoTime() - start) / 1e9 < seconds)(rounds.size < _)
    rec.setTracing(traced)
    while (setupOk && more) {
      val before = rec.calls.size
      wl.round(rec, rounds.size)
      rounds += rec.calls.drop(before).map(_.secs).sum
    }
    rec.setTracing(false)
    val problems = if (setupOk) wl.check() else Seq("set-up failed")
    val storage = wl match {
      case iw: IndexWorkload if setupOk => Map(
        "space_amp" -> iw.spaceAmp,
        "storage" -> iw.storage.map { case (k, (b, f, t)) =>
          k -> Map("bytes" -> b, "files" -> f, "tombstones" -> t) })
      case _ => Map.empty[String, Any]
    }
    Map(
      "workload" -> opt("workload"), "seed" -> seed, "traced" -> traced,
      "cpus" -> spark.sparkContext.defaultParallelism,
      "session_s" -> sessionSecs, "setup_s" -> setupSecs,
      "setup" -> rec.setup.map(c => Map("name" -> c.name, "s" -> c.secs, "error" -> c.error)),
      "rounds" -> rounds, "trace_bookkeeping_s" -> rec.bookkeepingNs / 1e9,
      "calls" -> rec.calls.map(callJson),
      "problems" -> problems,
      "cache" -> Map("held_bytes" -> rec.cacheHeldBytes, "blocks" -> rec.cacheBlocks),
      "spans" -> rec.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "facts" -> wl.facts) ++ storage
  }

  private def callJson(c: CallRecord): Map[String, Any] = {
    val base = Map[String, Any]("id" -> c.id, "name" -> c.name, "layer" -> c.layer,
      "kind" -> c.kind, "round" -> c.round, "s" -> c.secs, "error" -> c.error) ++ c.extra
    c.stats.fold(base) { st =>
      val spans = st.jobSpans.sortBy(_._1)
      // time covered by at least one running job
      var covered = 0L; var end = Long.MinValue
      spans.foreach { case (a, b) =>
        val s = math.max(a, end)
        if (b > s) covered += b - s
        end = math.max(end, b)
      }
      val jobMs = spans.map { case (a, b) => b - a }.sorted
      base ++ Map(
        "sched.jobs" -> st.jobs, "sched.stages" -> st.stages, "sched.tasks" -> st.tasks,
        "sched.gap_s" -> math.max(0.0, c.secs - covered / 1e3),
        "sched.job_p50_s" -> (if (jobMs.isEmpty) 0.0 else jobMs(jobMs.size / 2) / 1e3),
        "entry.build_jobs" -> st.buildJobs, "entry.build_s" -> st.buildNs / 1e9,
        "plan.s" -> st.planMs / 1e3, "plan.exchanges" -> st.exchanges,
        "plan.codegen_stages" -> st.codegenStages,
        "plan.nodes_outside_codegen" -> st.outsideCodegen,
        "exec.task_s" -> st.taskMs / 1e3, "exec.cpu_s" -> st.cpuNs / 1e9,
        "exec.gc_s" -> st.gcMs / 1e3, "exec.shuffle_read_bytes" -> st.shuffleRead,
        "exec.shuffle_write_bytes" -> st.shuffleWrite, "exec.spill_bytes" -> st.spill,
        "exec.skew" -> st.skew, "exec.failed_tasks" -> st.failedTasks,
        "exec.bytes_written" -> st.bytesWritten,
        "sources.rows_read" -> st.rowsRead, "sources.bytes_read" -> st.bytesRead,
        "sources.files_read" -> st.filesRead)
    }
  }

  /** Checks the flow composition the benchmark times against the shipped
    * `NslKddFlow.run` on the same small input.
    */
  private def selftest(spark: SparkSession, opt: Map[String, String]): Map[String, Any] = {
    val data = opt("data")
    val (train, test) = (s"$data/train.csv", s"$data/test.csv")
    val cfg = flowConfig.copy(k = 2, numTrees = 5, maxDepth = 5)
    val shipped = NslKddFlow.run(spark, train, Some(test), cfg)
    val composed = FlowWorkload.compose(spark, train, test, cfg, None)
    val raw = graft.sources.NslKddSource.load(spark, train)
    val unmapped = graft.ml.LabelConverters.addLabels(raw).filter("labels5 is null").count()
    def cm(m: graft.ml.Metrics.BinaryMetrics) = Seq(m.tp, m.fp, m.tn, m.fn)
    val failures = Seq(
      "load yields 42 columns" -> (raw.columns.length == 42),
      "every label maps to a labels5 value" -> (unmapped == 0),
      "selected features match NslKddFlow.run" -> (shipped.selectedFeatures == composed.selected),
      "CV confusion matches NslKddFlow.run" -> (cm(shipped.cvMetrics) == cm(composed.cv)),
      "test confusion matches NslKddFlow.run" ->
        shipped.testMetrics.map(cm).contains(cm(composed.test)))
      .collect { case (name, false) => name }
    Map("selftest" -> "flow", "failures" -> failures,
      "cv_confusion" -> cm(composed.cv), "selected" -> composed.selected)
  }
}
