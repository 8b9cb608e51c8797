package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._

/** The store conventions every persisted index shares (banded, split-banded,
  * IVF, IVF-PQ, kNN, lexical, cluster assignments). An index under `prefix`
  * is a set of managed tables `<prefix>_<suffix>`:
  *
  *   - `_meta` — the STAMP: build parameters, the corpus tag (the caller's
  *     statement of which corpus the index describes) and `fmt` (which code
  *     built it). Either one row, replaced on every restamp, or APPEND-ONLY
  *     with a `version` column whose max row is the committed head (the
  *     meta append IS the commit).
  *   - `_deleted` (id) — the logical tombstones. Member tables are
  *     immutable bucketed files, so a delete merges ids here; every read
  *     anti-joins the broadcast set ([[live]]) and compaction folds it back
  *     in physically.
  *   - member tables — corpus-sized, bucketed, append-only between
  *     compactions.
  *
  * STALE POLICY (one rule for every `ensure*`, see [[isFresh]]): a missing
  * table, a missing stamp column, no committed meta row, a stamp mismatch
  * or a failed integrity predicate means stale, and the index rebuilds. Any
  * other read error propagates — a corrupt or unreadable store must
  * surface, not silently trigger a rebuild.
  *
  * CRASH ORDER of compaction ([[compact]]): every member table is
  * materialized, then rewritten in its own bucket layout, and `_deleted`
  * clears LAST — a crash at any table boundary leaves the tombstones in
  * force over already-removed rows (an anti-join that removes nothing), so
  * reads stay correct. Each rewrite itself is destructive-first
  * ([[Bucketing.writeBucketed]]): a crash mid-rewrite loses that table and
  * the index rebuilds from the corpus through its ensure; compacting under
  * a fresh prefix and repointing consumers closes even that window.
  */
private[graft] object IndexStore {

  /** A meta row as ordered (column, value) pairs; values are Int, Long,
    * Double or String.
    */
  type Stamp = Seq[(String, Any)]

  private def metaTable(prefix: String) = s"${prefix}_meta"
  private def deletedTable(prefix: String) = s"${prefix}_deleted"

  private def stampFrame(spark: SparkSession, stamp: Stamp): DataFrame = {
    val schema = StructType(stamp.map { case (name, v) =>
      StructField(name, v match {
        case _: Int => IntegerType
        case _: Long => LongType
        case _: Double => DoubleType
        case _: String => StringType
        case other => throw new IllegalArgumentException(
          s"meta stamp column '$name' has unsupported value $other")
      })
    })
    spark.createDataFrame(java.util.List.of(Row.fromSeq(stamp.map(_._2))),
      schema)
  }

  /** Replace the meta table with the single row `stamp`. */
  def writeMeta(spark: SparkSession, prefix: String, stamp: Stamp): Unit =
    Bucketing.saveTable(stampFrame(spark, stamp), metaTable(prefix))

  /** Append `stamp` to an append-only meta table — the commit point of a
    * versioned store.
    */
  def commitMeta(spark: SparkSession, prefix: String, stamp: Stamp): Unit =
    stampFrame(spark, stamp).write.mode("append").saveAsTable(metaTable(prefix))

  /** `head` as a stamp with `changes` applied, every other column kept. */
  def restamped(head: Row, changes: (String, Any)*): Stamp = {
    val ch = changes.toMap
    head.schema.fieldNames.toSeq.map(n => n -> ch.getOrElse(n, head.getAs[Any](n)))
  }

  /** The meta row of a single-row meta table (read fresh). */
  def meta(spark: SparkSession, prefix: String): Row =
    Bucketing.freshTable(spark, metaTable(prefix)).head()

  /** The committed meta head: the max-`version` row when the table has a
    * `version` column, else its one row. None when the table is absent,
    * lacks any of `cols`, or holds no row.
    */
  def metaHead(spark: SparkSession, prefix: String,
               cols: Seq[String] = Nil): Option[Row] =
    if (!spark.catalog.tableExists(metaTable(prefix))) None
    else {
      val m = Bucketing.freshTable(spark, metaTable(prefix))
      if (!cols.forall(m.columns.contains)) None
      else (if (m.columns.contains("version")) m.orderBy(col("version").desc)
            else m).limit(1).collect().headOption
    }

  /** The committed meta head, or an [[IllegalStateException]] naming the
    * missing store — an empty answer for "store not initialized" would read
    * as "nothing indexed".
    */
  def committedMeta(spark: SparkSession, prefix: String, cols: Seq[String],
                    ensure: String): Row =
    metaHead(spark, prefix, cols).getOrElse(throw new IllegalStateException(
      s"no committed index under '$prefix' — run $ensure"))

  /** Whether the index under `prefix` is up to date (the stale policy in
    * the object doc): every `<prefix>_<t>` of `tables` exists, the committed
    * meta head has every column of `expect` and `cols` and matches `expect`,
    * and `integrity` holds on it.
    */
  def isFresh(spark: SparkSession, prefix: String, tables: Seq[String],
              expect: Stamp, cols: Seq[String] = Nil,
              integrity: Row => Boolean = _ => true): Boolean =
    tables.forall(t => spark.catalog.tableExists(s"${prefix}_$t")) &&
      metaHead(spark, prefix, expect.map(_._1) ++ cols).exists { m =>
        expect.forall { case (c, v) => m.getAs[Any](c) == v } && integrity(m)
      }

  /** The tombstone set (id), read fresh. */
  def tombstones(spark: SparkSession, prefix: String): DataFrame =
    Bucketing.freshTable(spark, deletedTable(prefix))

  /** Create or empty the tombstone table. */
  def clearTombstones(spark: SparkSession, prefix: String): Unit = {
    import spark.implicits._
    Bucketing.saveTable(Seq.empty[Long].toDF("id"), deletedTable(prefix))
  }

  /** Merge the `idCol` ids of `ids` into the tombstones and return the
    * merged set, materialized (the replace drops the table it was read
    * from). Read-merge-replace of a churn-sized table; idempotent. A crash
    * mid-replace loses tombstones, so the delete feed must be replayable.
    */
  def tombstone(ids: DataFrame, prefix: String, idCol: String): DataFrame = {
    val merged = tombstones(ids.sparkSession, prefix)
      .unionByName(ids.select(col(idCol).cast("long").as("id")))
      .distinct()
      .localCheckpoint(true)
    Bucketing.saveTable(merged, deletedTable(prefix))
    merged
  }

  /** `rows` minus those whose `idCol` is in `dead`, columns in `rows`'
    * order (writes insert positionally). The tombstone side broadcasts, so
    * the rows' bucket layout — and every exchange-free plan over it —
    * survives.
    */
  def live(rows: DataFrame, dead: DataFrame, idCol: String = "id"): DataFrame =
    rows.join(broadcast(dead.select(col("id").as(idCol))), Seq(idCol),
        "left_anti")
      .select(rows.columns.toSeq.map(col): _*)

  /** The live rows of member table `<prefix>_<suffix>`. */
  def liveTable(spark: SparkSession, prefix: String, suffix: String,
                idCol: String = "id"): DataFrame =
    live(Bucketing.freshTable(spark, s"${prefix}_$suffix"),
      tombstones(spark, prefix), idCol)

  /** APPEND ADMISSION: the `rows` an append may insert — neither tombstoned
    * (an un-compacted id cannot re-enter: its stale rows would vanish with
    * the new ones under the tombstone, and resurface after it lifts) nor
    * already in `present` (an at-least-once replay of a committed append
    * inserts nothing). Columns in `rows`' order.
    */
  def admit(rows: DataFrame, prefix: String, present: DataFrame,
            idCol: String = "id"): DataFrame =
    live(rows, tombstones(rows.sparkSession, prefix), idCol)
      .join(present.select(col(idCol)), Seq(idCol), "left_anti")
      .select(rows.columns.toSeq.map(col): _*)

  /** A member table under compaction: its suffix, its bucket keys, and the
    * rows it keeps given the tombstone set.
    */
  final case class Member(suffix: String, keys: Seq[String],
                          keep: DataFrame => DataFrame)

  /** A member that keeps its rows whose `idCol` is live. */
  def liveMember(spark: SparkSession, prefix: String, suffix: String,
                 keys: Seq[String], idCol: String = "id"): Member =
    Member(suffix, keys, dead =>
      live(Bucketing.freshTable(spark, s"${prefix}_$suffix"), dead, idCol))

  /** COMPACT: rewrite every member minus the tombstones in its own bucket
    * layout (`buckets` buckets), then clear `_deleted` — the amortized
    * corpus-sized rewrite that keeps read-side anti-joins small and makes
    * tombstoned ids appendable again. Run it when the tombstone set has
    * grown, not per delete. False (nothing written) when no tombstone
    * stands. Crash order: see the object doc.
    */
  def compact(spark: SparkSession, prefix: String, buckets: Int,
              members: Seq[Member]): Boolean = {
    val dead = tombstones(spark, prefix)
    if (dead.isEmpty) return false
    val kept = members.map(m => m -> m.keep(dead).localCheckpoint(true))
    kept.foreach { case (m, rows) =>
      Bucketing.writeBucketed(rows, s"${prefix}_${m.suffix}", m.keys, buckets)
    }
    clearTombstones(spark, prefix)
    true
  }

  /** Fold a [[graft.ops.RelationalOps.snapshotDiff]] delta (`idCol`,
    * `status`) into the index — the incremental-crawl maintenance order:
    *
    *   1. `removed` and `changed` ids tombstone;
    *   2. the index compacts when an id about to append has a standing
    *      tombstone (`changed` now, or re-added after a removals-only
    *      cycle) — admission would otherwise drop it;
    *   3. `added` + `changed` rows of `newSnapshot` append;
    *   4. the corpus tag restamps LAST, so it only ever advertises a fully
    *      folded delta.
    *
    * A crash between the compact (which clears the tombstones) and the
    * append leaves a clean but STALE index. Recovery: re-run the same
    * delta — every step is idempotent against a partial state (tombstoning
    * is a set merge, compacting no tombstones is a no-op, admission skips
    * ids already present).
    */
  def maintainFromDiff(newSnapshot: DataFrame, diff: DataFrame, prefix: String,
                       idCol: String, newCorpusTag: String)
                      (compact: () => Unit, append: DataFrame => Unit): Unit = {
    val spark = newSnapshot.sparkSession
    val gone = diff.filter(col("status").isin("removed", "changed"))
      .select(col(idCol))
    if (!gone.isEmpty) tombstone(gone, prefix, idCol)
    val fresh = newSnapshot.join(
      diff.filter(col("status").isin("added", "changed")).select(col(idCol)),
      Seq(idCol), "left_semi")
    val appendingTombstoned = fresh.select(col(idCol).cast("long").as("id"))
      .join(tombstones(spark, prefix), Seq("id"), "left_semi")
    if (!appendingTombstoned.isEmpty) compact()
    if (!fresh.isEmpty) append(fresh)
    if (newCorpusTag.nonEmpty) writeMeta(spark, prefix,
      restamped(meta(spark, prefix), "corpus_tag" -> newCorpusTag))
  }
}
