package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, SimilarityOps}
import graft.sources.{Bucketing, IndexStore, Tables}

/** The shared persisted-index core: one admission rule makes every append
  * replay-safe, and one stale policy decides every ensure.
  */
class IndexStoreSpec extends SparkTestBase {

  private def dropPrefix(prefix: String): Unit =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix + "_"))
      .foreach(t => Bucketing.dropTableAndLocation(spark, t))

  /** One index kind: build over the base corpus, append the batch, count
    * live members, probe with the batch.
    */
  private case class Kind(name: String, build: String => Unit,
                          append: String => Unit, live: String => Long,
                          probe: String => Seq[Row])

  test("a replayed append inserts nothing: live count and probe rows equal one append's (banded, split, IVF, IVF-PQ)") {
    val docs = Tables(spark, SparkTestBase.sf001, "documents")
    val baseDocs = docs.filter(col("doc_id") % 5 =!= 0)
    val batchDocs = docs.filter(col("doc_id") % 5 === 0)
    val emb = Tables(spark, SparkTestBase.sf001, "embeddings")
    val baseEmb = emb.filter(col("vec_id") % 5 =!= 0)
    val batchEmb = emb.filter(col("vec_id") % 5 === 0)
    def sorted(df: DataFrame): Seq[Row] =
      df.collect().toSeq.sortBy(_.toString)
    val kinds = Seq(
      Kind("banded",
        p => DedupOps.writeBandedIndex(baseDocs, p, buckets = 4),
        p => DedupOps.appendToBandedIndex(batchDocs, p),
        p => DedupOps.bandedIndexStats(spark, p).head().getAs[Long]("n_docs"),
        p => sorted(DedupOps.probeBandedIndex(batchDocs, p))),
      Kind("split",
        p => DedupOps.writeBandedIndexSplit(baseDocs, p, buckets = 4,
          splitOccupancy = 2),
        p => DedupOps.appendToBandedIndexSplit(batchDocs, p),
        p => IndexStore.liveTable(spark, p, "sets").count(),
        p => sorted(DedupOps.probeBandedIndexSplit(batchDocs, p))),
      Kind("ivf",
        p => SimilarityOps.writeIvfIndex(baseEmb, p, nCells = 4, buckets = 4),
        p => SimilarityOps.appendToIvfIndex(batchEmb, p),
        p => SimilarityOps.ivfDriftSummary(spark, p).head()
          .getAs[Long]("n_vectors"),
        p => sorted(SimilarityOps.ivfTopKPersisted(batchEmb, p, k = 5,
          nProbe = 4))),
      Kind("ivfpq",
        p => SimilarityOps.writeIvfPqIndex(baseEmb, p, nCells = 4,
          buckets = 4),
        p => SimilarityOps.appendToIvfPqIndex(batchEmb, p),
        p => IndexStore.liveTable(spark, p, "cells", "vec_id").count(),
        p => sorted(SimilarityOps.ivfPqTopKPersisted(batchEmb, p, k = 5,
          nProbe = 4))))
    for (kind <- kinds) {
      val p = s"t_replay_${kind.name}"
      try {
        kind.build(p)
        val live0 = kind.live(p)
        kind.append(p)
        val (live1, probe1) = (kind.live(p), kind.probe(p))
        assert(live1 > live0, s"${kind.name}: the first append inserted nothing")
        kind.append(p)
        assert(kind.live(p) === live1,
          s"${kind.name}: a replayed append changed the live count")
        assert(kind.probe(p) === probe1,
          s"${kind.name}: a replayed append changed the probe rows")
      } finally dropPrefix(p)
    }
  }

  test("stale policy: absence, a missing column, a mismatch or a failed integrity check is stale; a read error propagates") {
    val p = "t_store_policy"
    try {
      val stamp: IndexStore.Stamp =
        Seq("k" -> 3, "scale" -> 0.5, "corpus_tag" -> "a", "fmt" -> 1L)
      assert(!IndexStore.isFresh(spark, p, Seq("meta"), stamp),
        "an absent index is stale")
      IndexStore.writeMeta(spark, p, stamp)
      IndexStore.clearTombstones(spark, p)
      assert(IndexStore.isFresh(spark, p, Seq("meta", "deleted"), stamp))
      assert(!IndexStore.isFresh(spark, p, Seq("meta", "cells"), stamp),
        "a missing member table is stale")
      assert(!IndexStore.isFresh(spark, p, Seq("meta"),
        stamp :+ ("buckets" -> 4)), "a missing stamp column is stale")
      assert(!IndexStore.isFresh(spark, p, Seq("meta"),
        IndexStore.restamped(IndexStore.meta(spark, p), "corpus_tag" -> "b")),
        "a changed tag is stale")
      assert(!IndexStore.isFresh(spark, p, Seq("meta"), stamp,
        integrity = _ => false),
        "a failed integrity predicate is stale")
      // an append-only meta serves its max-version row
      IndexStore.writeMeta(spark, p, Seq("corpus_tag" -> "a", "version" -> 1L))
      IndexStore.commitMeta(spark, p, Seq("corpus_tag" -> "b", "version" -> 2L))
      assert(IndexStore.metaHead(spark, p).map(_.getAs[Long]("version")) ===
        Some(2L))
      assert(IndexStore.isFresh(spark, p, Seq("meta"),
        Seq("corpus_tag" -> "b")))
      // a corrupt meta file is neither fresh nor stale: the error surfaces
      import org.apache.spark.sql.graft.bridge
      val loc = new org.apache.hadoop.fs.Path(
        bridge.defaultTablePath(spark, s"${p}_meta"))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .foreach { f =>
          val out = fs.create(f, true)
          try out.write("not parquet at all".getBytes("UTF-8"))
          finally out.close()
        }
      intercept[Exception] {
        IndexStore.isFresh(spark, p, Seq("meta"), Seq("corpus_tag" -> "b"))
      }
    } finally dropPrefix(p)
  }
}
