package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ml._
import graft.ops.{DedupOps, RelationalOps, SimilarityOps}
import graft.schema.NslKdd
import graft.sources.NslKddSource

/** One benchmark workload: a set-up that brings the engine from an empty
  * warehouse to the state the timed calls need, and rounds of timed calls.
  */
trait Workload {
  /** Set-up steps, each through `rec.step` so it is timed and never
    * swallowed.
    */
  def setup(rec: Recorder): Unit
  /** The number of timed rounds, or None to run rounds until the time is up. */
  def fixedRounds: Option[Int] = None
  /** One round of timed calls through `rec.call`. */
  def round(rec: Recorder, r: Int): Unit
  /** Output checks after the timed region; returns the mismatches found. */
  def check(): Seq[String]
  /** Workload facts for the report (sizes, query names, ...). */
  def facts: Map[String, Any]
}

/** Order-independent digest of a result: row count and a sum of per-row
  * hashes, doubles rounded to 9 significant digits so the summation order of
  * a distributed aggregate cannot change it.
  */
object Digest {
  private def norm(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d == 0.0) "0" else f"$d%.9g"
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + "=" + norm(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }
  def apply(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.map(r => scala.util.hashing.MurmurHash3.stringHash(norm(r)).toLong).sum)
}

object Files2 {
  /** Total bytes and count of the data files under `dir` that `keep` accepts. */
  def sizeAndFiles(dir: File, keep: File => Boolean): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else Files.walk(dir.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && keep(f) && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .foldLeft((0L, 0L)) { case ((b, n), f) => (b + f.length(), n + 1) }
}

/** Corpus queries through `SparkEntry.queries`: every round calls each query
  * once, in a seeded order, and collects its result.
  */
final class CorpusWorkload(spark: SparkSession, dataDir: String, outDir: String,
                           seed: Long, queryNames: Seq[String]) extends Workload {
  /** `graft.ops` module each query spends its time in (per-layer `ops.*`). */
  val module: Map[String, String] = Map(
    "q178_neardup_triangles" -> "graph", "q97_bpe_train" -> "text",
    "q17_text_stats" -> "text", "q22_minhash_neardup" -> "dedup",
    "q24_ann_cosine_topk" -> "similarity", "q01_pricing_summary" -> "relational",
    "q29_sessionization" -> "event")
  private val reference = mutable.Map[String, (Long, Long)]()
  private val mismatches = mutable.ArrayBuffer[String]()

  private def execute(rec: Recorder, name: String): Array[Row] = {
    val df = rec.building(SparkEntry.queries(name)(spark, dataDir))
    rec.span("execute")(df.collect())
  }

  def setup(rec: Recorder): Unit = {
    val known = SparkEntry.queries.keySet
    rec.step("check query names") {
      val missing = queryNames.filterNot(known)
      require(missing.isEmpty, s"queries not in SparkEntry.queries: ${missing.mkString(", ")}")
      require(queryNames.forall(module.contains), "query without an ops module")
    }
    // the first call of each query at the timed size: its result is the
    // reference every timed call must reproduce and the DuckDB oracle checks
    for (q <- queryNames if known(q)) rec.step(s"first call $q") {
      val df = SparkEntry.queries(q)(spark, dataDir)
      val rows = df.collect()
      reference(q) = Digest(rows)
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/results/$q")
    }
  }

  def round(rec: Recorder, r: Int): Unit =
    for (q <- new Random(seed * 31 + r).shuffle(queryNames)) {
      var rows: Array[Row] = null
      rec.call(q, "entry", module(q), r) { rows = execute(rec, q); Map("rows" -> rows.length.toDouble) }
      if (rows != null && reference.get(q).exists(_ != Digest(rows)))
        mismatches += s"$q round $r: result differs from its first call"
    }

  def check(): Seq[String] = mismatches.toSeq

  def facts: Map[String, Any] = Map(
    "queries" -> queryNames,
    "oracle_sql" -> queryNames.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
    "reference" -> reference.map { case (q, (n, h)) => q -> Map("rows" -> n, "hash" -> h) })
}

/** The reference notebook's flow on generated NSL-KDD CSV, stage by stage,
  * through the public `graft.ml` calls in `NslKddFlow.build`'s order. The
  * flow is timed once from a fresh session, the way the notebook runs it:
  * set-up only checks the loader's contract, and the one round pays JIT and
  * code generation.
  */
final class FlowWorkload(spark: SparkSession, trainPath: String, testPath: String,
                         cfg: NslKddFlow.Config) extends Workload {
  import FlowWorkload._
  private val results = mutable.ArrayBuffer[Outcome]()
  private val problems = mutable.ArrayBuffer[String]()
  var testRows = 0L

  override def fixedRounds: Option[Int] = Some(1)

  def setup(rec: Recorder): Unit = {
    rec.step("load contract") {
      val raw = NslKddSource.load(spark, trainPath)
      require(raw.columns.length == 42, s"NslKddSource.load gave ${raw.columns.length} columns")
      val unmapped = LabelConverters.addLabels(raw).filter(col("labels5").isNull).count()
      require(unmapped == 0, s"$unmapped rows without a labels5 value")
      testRows = NslKddSource.load(spark, testPath).count()
    }
  }

  def round(rec: Recorder, r: Int): Unit =
    results += compose(spark, trainPath, testPath, cfg, Some((rec, r)))

  def check(): Seq[String] = {
    results.headOption.foreach { first =>
      results.zipWithIndex.foreach { case (o, i) =>
        if (o != first) problems += s"flow $i differs from the first flow (same seed)"
        if (o.cv.total != o.cvRows) problems += s"flow $i: CV confusion sums to ${o.cv.total}, ${o.cvRows} rows"
        if (o.test.total != testRows) problems += s"flow $i: test confusion sums to ${o.test.total}, $testRows rows"
      }
    }
    problems.toSeq
  }

  def facts: Map[String, Any] = Map(
    "config" -> cfg.toString, "test_rows" -> testRows,
    "selected_features" -> results.headOption.map(_.selected).getOrElse(Nil),
    "cv_confusion" -> results.headOption.map(o => Seq(o.cv.tp, o.cv.fp, o.cv.tn, o.cv.fn)).getOrElse(Nil),
    "test_confusion" -> results.headOption.map(o => Seq(o.test.tp, o.test.fp, o.test.tn, o.test.fn)).getOrElse(Nil))
}

object FlowWorkload {
  final case class Outcome(selected: Seq[String], cv: Metrics.BinaryMetrics,
                           test: Metrics.BinaryMetrics, cvRows: Long)

  /** `NslKddFlow.run` with a test file, composed from the same public calls
    * in the same order; each stage is a timed call when `timing` is given.
    * The self-test checks it against `NslKddFlow.run` itself. The CV rows are
    * counted from the split, outside any stage, before they are scored.
    */
  def compose(spark: SparkSession, trainPath: String, testPath: String,
              cfg: NslKddFlow.Config, timing: Option[(Recorder, Int)]): Outcome = {
    def stage[T](name: String)(body: => T): T = timing match {
      case None => body
      case Some((rec, r)) =>
        var out: Option[T] = None
        if (!rec.call(name, "ml", "ml", r) { out = Some(body); Map.empty })
          throw new IllegalStateException(s"flow stage $name failed")
        out.get
    }
    val raw = stage("load")(NslKddSource.load(spark, trainPath))
    val (label, train) = stage("labels") {
      val labelsModel = FeaturePrep.labelsPipeline().fit(raw)
      def label(df: DataFrame): DataFrame =
        NslKddSource.withSequentialId(labelsModel.transform(df))
          .na.replace("su_attempted", Map(2.0 -> 0.0))
      val train = label(raw).cache()
      train.count()
      (label _, train)
    }
    val (oheApply, oheCols) = stage("ohe")(FeaturePrep.oheFlat(train, NslKdd.nominalCols))
    val numericCols = NslKdd.numericCols.filterNot(_ == "num_outbound_cmds")
    val selected = stage("ar") {
      val ratios = AttributeRatio.attributeRatios(
        oheApply(train), "labels5", numericCols, NslKdd.binaryCols ++ oheCols)
      AttributeRatio.selectFeaturesByAR(ratios, cfg.arThreshold)
    }
    val standardize = stage("standardize")(FeaturePrep.standardize(oheApply(train), numericCols))
    val prepare = stage("prep") {
      val prepModel = FeaturePrep
        .prepPipeline(numericCols ++ NslKdd.binaryCols ++ oheCols)
        .fit(standardize(oheApply(train)))
      (df: DataFrame) => FeaturePrep.slicer(selected)
        .transform(prepModel.transform(standardize(oheApply(df))))
        .select("id", "labels2", "labels2_index", "labels5", "features")
    }
    val (trC, cv) = stage("split") {
      val (tr, cv) = Stats.trainCvSplit(prepare(train), cfg.trainFraction, cfg.seed)
      val trC = tr.cache()
      trC.count()
      (trC, cv)
    }
    val cvRows = cv.count()
    val model = stage("classifier_fit") {
      new ClusteredClassifier(cfg.k, "features", "labels2", 25L,
        cfg.numTrees, cfg.maxDepth, cfg.seed, cfg.clusterMode,
        pcaK = 2, kmeansInitSteps = cfg.kmeansInitSteps).fit(trC)
    }
    def scoreAndMeasure(df: DataFrame, name: String): Metrics.BinaryMetrics = {
      val scored = stage(s"score_$name") {
        val s = model.transform(df).withColumn("pred",
          RelationalOps.threshold(col("prob"), cfg.predictionThreshold)).cache()
        s.count()
        s
      }
      val m = stage(s"metrics_$name")(Metrics.binaryMetrics(scored, "labels2_index", "pred"))
      scored.unpersist()
      model.clearScoringCache()
      m
    }
    val cvM = scoreAndMeasure(cv, "cv")
    val testDf = stage("load_test")(prepare(label(NslKddSource.load(spark, testPath))))
    val testM = scoreAndMeasure(testDf, "test")
    train.unpersist(); trC.unpersist()
    Outcome(selected, cvM, testM, cvRows)
  }
}

/** A closed loop with one client over persisted banded (MinHash) and IVF
  * indexes: set-up builds both over the corpus minus a seeded held-out
  * slice; every round appends that slice (under ids fresh to the round),
  * deletes seeded base ids and compacts, with two probes per write.
  */
final class IndexWorkload(spark: SparkSession, dataDir: String, warehouse: String,
                          seed: Long) extends Workload {
  private val docs = spark.read.parquet(s"$dataDir/documents.parquet")
  private val embs = spark.read.parquet(s"$dataDir/embeddings.parquet")
  private val held = (c: org.apache.spark.sql.Column) =>
    pmod(xxhash64(c, lit(seed)), lit(5L)) === 0
  private val baseDocs = docs.filter(!held(col("doc_id")))
  private val baseEmbs = embs.filter(!held(col("vec_id")))
  private val heldDocs = docs.filter(held(col("doc_id")))
  private val heldEmbs = embs.filter(held(col("vec_id")))
  private val pB = "bench_banded"
  private val pI = "bench_ivf"
  val kinds = Seq("banded", "ivf")
  // live-row ledger per index: base + appended - deleted
  private val live = mutable.Map[String, Long]()
  private val deleted = mutable.Map[String, mutable.Set[Long]]()
  private val problems = mutable.ArrayBuffer[String]()
  private var baseBytes = 0L
  private val rng = new Random(seed)

  def setup(rec: Recorder): Unit = {
    rec.step("ensure banded") {
      DedupOps.ensureBandedIndex(baseDocs, pB, corpusTag = s"bench-$seed")
    }
    rec.step("ensure ivf") {
      SimilarityOps.ensureIvfIndex(baseEmbs, pI, corpusTag = s"bench-$seed", nCells = 8)
    }
    rec.step("ledger") {
      live("banded") = baseDocs.count(); live("ivf") = baseEmbs.count()
      kinds.foreach(k => deleted(k) = mutable.Set())
      baseBytes = Files2.sizeAndFiles(new File(s"$dataDir/documents.parquet"), _ => true)._1 +
        Files2.sizeAndFiles(new File(s"$dataDir/embeddings.parquet"), _ => true)._1
    }
    rec.step("first probes") { probe("banded", -1); probe("ivf", -1) }
  }

  private def probeBatch(kind: String): DataFrame = {
    val salt = rng.nextInt(1000)
    val src = if (kind == "banded") docs else embs
    val id = if (kind == "banded") "doc_id" else "vec_id"
    src.filter(pmod(xxhash64(col(id), lit(salt)), lit(20L)) === 0)
  }

  /** A probe; returns result rows and checks no deleted id comes back. */
  private def probe(kind: String, round: Int): Map[String, Double] = {
    val batch = probeBatch(kind)
    if (kind == "banded") {
      val rows = DedupOps.probeBandedIndex(batch, pB).collect()
      Map("results" -> rows.length.toDouble)
    } else {
      val rows = SimilarityOps.ivfTopKPersisted(batch, pI, k = 5).collect()
      val back = rows.map(_.getAs[Long]("neighbor_id")).filter(deleted("ivf"))
      if (back.nonEmpty) problems += s"ivf probe in round $round returned deleted ids ${back.take(5).mkString(",")}"
      Map("results" -> rows.length.toDouble)
    }
  }

  /** The batch of a write, prepared outside the timed call: the held-out
    * slice under ids fresh to this round (append) or seeded base ids not
    * deleted yet (delete).
    */
  private def writeBatch(kind: String, op: String, round: Int): DataFrame = {
    val id = if (kind == "banded") "doc_id" else "vec_id"
    op match {
      case "append" =>
        (if (kind == "banded") heldDocs else heldEmbs)
          .withColumn(id, col(id) + (round + 1).toLong * 10000000L)
      case "delete" =>
        val salt = rng.nextInt(1000)
        val ids = (if (kind == "banded") baseDocs else baseEmbs).select(col(id))
          .filter(pmod(xxhash64(col(id), lit(salt)), lit(50L)) === 0)
          .collect().map(_.getLong(0)).filterNot(deleted(kind))
        import spark.implicits._
        ids.toSeq.toDF(id)
      case _ => null
    }
  }

  private def write(kind: String, op: String, batch: DataFrame): Unit = (kind, op) match {
    case ("banded", "append") => DedupOps.appendToBandedIndex(batch, pB)
    case ("ivf", "append") => SimilarityOps.appendToIvfIndex(batch, pI)
    case ("banded", "delete") => DedupOps.deleteFromBandedIndex(batch, pB)
    case ("ivf", "delete") => SimilarityOps.deleteFromIvfIndex(batch, pI)
    case ("banded", "compact") => DedupOps.compactBandedIndex(pB)
    case ("ivf", "compact") => SimilarityOps.compactIvfIndex(pI)
  }

  private val writeOps = Seq("append", "delete", "compact")

  /** Every round appends the held-out slice to, deletes from and compacts
    * each index, each write followed by two probes of the same index, in a
    * seeded order of the indexes. A round takes longer than a run's ten
    * seconds, so every run times exactly one round.
    */
  def round(rec: Recorder, r: Int): Unit =
    for (k <- new Random(seed * 17 + r).shuffle(kinds); op <- writeOps) {
      val batch = writeBatch(k, op, r)
      val ids = if (batch == null) Array.empty[Long] else batch.collect().map(_.getLong(0))
      if (rec.call(s"$k.$op", "index", "write", r) { write(k, op, batch); Map("rows" -> ids.length.toDouble) })
        op match {
          case "append" => live(k) += ids.length
          case "delete" => live(k) -= ids.length; deleted(k) ++= ids
          case _ =>
        }
      for (_ <- 1 to 2) rec.call(s"$k.probe", "index", "read", r)(probe(k, r))
    }

  /** Live rows per index as its status function reports them. */
  private def statusLive(kind: String): Long = kind match {
    case "banded" => DedupOps.bandedIndexStats(spark, pB).head().getAs[Long]("n_docs")
    case "ivf" => SimilarityOps.ivfDriftSummary(spark, pI).head().getAs[Long]("n_vectors")
  }

  def check(): Seq[String] = {
    for (k <- kinds) {
      val s = statusLive(k)
      if (s != live(k)) problems += s"$k: status reports $s live rows, ledger says ${live(k)}"
    }
    problems.toSeq
  }

  /** Bytes and data files of each index's tables, and its tombstones. */
  def storage: Map[String, (Long, Long, Long)] = kinds.map { k =>
    val prefix = if (k == "banded") pB else pI
    val (bytes, files) = Files2.sizeAndFiles(new File(warehouse),
      f => f.getPath.contains(s"/${prefix}_") && f.getName.endsWith(".parquet"))
    val tomb = if (k == "banded") DedupOps.bandedIndexStats(spark, pB).head().getAs[Long]("n_tombstones")
      else spark.table(s"${pI}_deleted").count()
    k -> (bytes, files, tomb)
  }.toMap

  def spaceAmp: Double = storage.values.map(_._1).sum.toDouble / math.max(baseBytes, 1L)

  def facts: Map[String, Any] = Map("kinds" -> kinds, "live" -> live.toMap,
    "deleted" -> deleted.map { case (k, s) => k -> s.size }.toMap)
}
