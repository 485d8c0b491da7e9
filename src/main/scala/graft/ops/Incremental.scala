package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance: a materialized partial-aggregate
  * table, partitioned by an ingest-granularity column (typically day),
  * that answers rollup queries WITHOUT rescanning history.
  *
  * The design is the mergeable-state discipline used everywhere in this
  * engine ([[Sketches]], `TopKByScore`): each partition stores per-key
  * (count, integer-cents sum, min, max) — all exactly mergeable in any
  * order — so "this month's revenue" reads ~30 tiny partial files instead
  * of the raw fact table, and a late-arriving day rewrites ONLY its own
  * partition (dynamic partition overwrite, the reference's S4/S5 partition
  * replace discipline at the aggregate layer).
  *
  * At 100 TB this is the difference between a daily report that costs one
  * day's scan and one that costs the whole table: raw-history scans are
  * O(history), this path is O(delta) build + O(partials) read, and the
  * partials are smaller than the facts by the group-key cardinality ratio.
  * Money sums are integer cents (per-row conversion BEFORE the first sum),
  * so merge order — partial vs final, engine vs engine — can never change
  * a cent (the q72 lesson).
  */
object Incremental {

  /** Per-(partition, keys) mergeable state for one measure column.
    * `measureCents` must already be integral per row (e.g.
    * `round(col("price") * 100).cast("long")`). */
  def buildPartials(df: DataFrame, partExpr: Column, keys: Seq[String],
      measureCents: Column): DataFrame =
    df.groupBy((partExpr.as("part") +: keys.map(col)): _*)
      .agg(
        count(lit(1)).as("cnt"),
        sum(measureCents).as("sum_cents"),
        min(measureCents).as("min_cents"),
        max(measureCents).as("max_cents"))

  /** Write partials partitioned by `part` with dynamic partition
    * overwrite: only the partitions PRESENT in `partials` are replaced;
    * untouched history stays as-is on disk.
    *
    * Partials are tiny (one row per key per day) — letting every shuffle
    * task write into every partition dir sharded them into
    * `partitions × tasks` near-empty files (measured 32× the file count
    * and ~10× the write wall-clock at a 2,400-day span). The repartition
    * on `part` routes each day to exactly one task → ONE file per
    * partition dir, which is also what the rollup read wants.
    *
    * Every write (initial build and [[refresh]]) ends by rebuilding the
    * [[compactView]] — maintenance pays the store-wide listing ONCE so
    * that every rollup read skips it. */
  def writePartials(partials: DataFrame, path: String): Unit = {
    partials.repartition(col("part"))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("part")
      .parquet(path)
    compactView(partials.sparkSession, path)
  }

  /** Incremental refresh: recompute partials ONLY for the rows of `delta`
    * (a new/late day, a corrected batch) and overwrite exactly those
    * partitions. O(delta) for the fact-side work; the closing
    * [[compactView]] rebuild is O(partials), which is smaller than the
    * facts by the group-key cardinality ratio. */
  def refresh(delta: DataFrame, path: String, partExpr: Column,
      keys: Seq[String], measureCents: Column): Unit =
    writePartials(buildPartials(delta, partExpr, keys, measureCents), path)

  /** Rebuild the read-optimized view of the partials store: the same rows
    * as the day-partitioned dirs, compacted into `<path>/_compact` (a few
    * large files, `part` carried as a data column) and published with an
    * atomic tmp→target swap.
    *
    * Why it exists (guide §6): a day grain over years is thousands of
    * partition DIRECTORIES, and every `spark.read.parquet(path)` pays a
    * driver-side listing + partition-inference pass over all of them
    * before a single byte of data is read — measured 5.4 s of the
    * q86 rollup's 6.3 s/run at a 2,406-day store, with the actual scan
    * + aggregate costing ~0.7 s. Manifest-style metadata (here: the
    * compacted copy itself) moves that cost to the WRITE side, where it
    * amortizes over every read — the Iceberg/Delta argument, applied to
    * this operator's plain-parquet store. The underscore prefix keeps the
    * view invisible to the day-dir reader's FileIndex, so the fallback
    * path and partition inference are unchanged.
    *
    * Crash between the day-dir write and the swap leaves the PRIOR view
    * in place — stale but consistent; the retry of the same maintenance
    * call repairs it. Same single-writer contract as
    * [[MergeOnRead]] compaction ([[graft.core.FsOps.atomicSwap]]). */
  def compactView(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(root, "_compact_tmp")
    val target = new Path(root, "_compact")
    val old = new Path(root, "_compact_old")
    // empty-store guard (ADVICE round 9): a first-ever writePartials with
    // an empty frame creates no part= dirs; reading the root would die in
    // schema inference where the pre-view code no-opped. No dirs → no view.
    val stamp = storeStamp(fs, root)
    if (stamp.isEmpty) return
    fs.delete(tmp, true)
    val full = spark.read.parquet(path)
    // target ~512 MB files; the sum excludes the _-prefixed view dirs the
    // FileIndex also skips, because getContentSummary is only a sizing
    // hint and over-counting stale views would merely split the output
    val bytes = fs.getContentSummary(root).getLength
    val nFiles = math.max(1L, bytes / (512L << 20)).toInt
    full.coalesce(nFiles).write.mode("overwrite").parquet(tmp.toString)
    // freshness watermark, published INSIDE the view by the same atomic
    // swap (the IVF `_compacted_to` pattern): a crash between a day-dir
    // write and the swap leaves a view whose stamp no longer matches the
    // day dirs, and [[rollup]] falls back instead of silently preferring
    // stale data (ADVICE round 9)
    val out = fs.create(new Path(tmp, StampFile), true)
    try out.write(stamp.getBytes("UTF-8")) finally out.close()
    graft.core.FsOps.atomicSwap(fs, tmp, target, old)
  }

  private val StampFile = "_GRAFT_SOURCE_STAMP"

  /** Cheap identity of the day-dir state a compact view was built from:
    * partition-dir count, max dir name, and an order-invariant xor of
    * (name hash, mtime) pairs — ONE non-recursive listStatus of the
    * store root (~N dir entries), never the recursive file listing the
    * view exists to avoid. A dynamic partition overwrite rewrites files
    * inside part= dirs, which updates those dirs' mtimes on the local /
    * HDFS semantics this store targets. Empty string = no part= dirs. */
  private def storeStamp(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): String = {
    val parts =
      if (!fs.exists(root)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(root).filter(st =>
        st.isDirectory && st.getPath.getName.startsWith("part="))
    if (parts.isEmpty) ""
    else {
      val mx = parts.map(_.getPath.getName).max
      val sig = parts.foldLeft(0L)((acc, st) =>
        acc ^ (st.getPath.getName.hashCode.toLong * 1000003L +
          st.getModificationTime))
      s"${parts.length}:$mx:$sig"
    }
  }

  /** Roll partials up to a coarser grain (`grainExpr` over the stored
    * `part` column, e.g. month from day). Count/sum re-add, min/max
    * re-min/max — exact in any merge order. Reads the [[compactView]]
    * when the store has one (every [[writePartials]]/[[refresh]] since
    * round 9 maintains it), falling back to the day dirs for stores
    * written by older builds. */
  def rollup(spark: SparkSession, path: String, grainExpr: Column,
      keys: Seq[String]): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val compact = new Path(root, "_compact")
    val fs = compact.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // trust the view only when its source stamp matches the CURRENT
    // day-dir state (one root listStatus — not the recursive listing):
    // a maintenance crash between day-dir write and swap leaves a stale
    // view, and preferring it would silently drop the fresher days
    def fresh(): Boolean = fs.exists(compact) && {
      val sp = new Path(compact, StampFile)
      fs.exists(sp) && {
        val in = fs.open(sp)
        val recorded =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        recorded == storeStamp(fs, root)
      }
    }
    val useView = fresh() || {
      // SELF-HEAL a stale or unstamped view (a pre-stamp build, or a
      // maintenance crash between day-dir write and swap): rebuild it once
      // — the same day-dir listing one fallback read would pay, but it
      // repairs the store for every subsequent read instead of paying the
      // listing forever. Idempotent single-writer swap; on a non-fatal
      // failure (e.g. a read-only mount) fall back to the day dirs for this
      // read. An interrupt falls back too, with the flag re-set for the
      // caller; fatal errors propagate.
      fs.exists(root) &&
        (try { compactView(spark, path); fresh() }
        catch {
          case _: InterruptedException =>
            Thread.currentThread().interrupt(); false
          case NonFatal(_) => false
        })
    }
    val src =
      if (useView) spark.read.parquet(compact.toString)
      else spark.read.parquet(path)
    src
      .groupBy((grainExpr.as("grain") +: keys.map(col)): _*)
      .agg(
        sum(col("cnt")).as("cnt"),
        sum(col("sum_cents")).as("sum_cents"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))
  }

  /** Delta term for an INSERT-ONLY materialized join view: with a stored
    * view `V_old = F_old ⋈ D_old`, appending fact rows `ΔF` and dimension
    * rows `ΔD` contributes exactly
    *
    * {{{ ΔV = ΔF ⋈ (D_old ∪ ΔD)  ∪  F_old ⋈ ΔD }}}
    *
    * — the classic join delta rule (ΔF⋈ΔD is folded into the first term
    * so no pair is produced twice). The view owner appends `ΔV` to the
    * stored view; nothing else is touched.
    *
    * At 100 TB this is the point: a daily refresh joins ONE DAY of facts
    * against the dimension (broadcast or bucket-pruned — O(ΔF)) plus the
    * historical facts against only the handful of NEW dimension rows
    * (O(F) scan but a near-empty build side, and with `ΔD` empty Catalyst
    * prunes the term to nothing) — never the full F ⋈ D recompute.
    * Insert-only is the contract: updates/deletes need the retraction
    * algebra ([[MergeOnRead]] covers latest-wins snapshots instead). */
  def joinViewDelta(factOld: DataFrame, factDelta: DataFrame,
      dimOld: DataFrame, dimDelta: DataFrame,
      keys: Seq[String]): DataFrame =
    factDelta.join(dimOld.unionByName(dimDelta), keys)
      .unionByName(factOld.join(dimDelta, keys))

  /** Maintained view after one insert-only batch: stored rows plus
    * [[joinViewDelta]]. Spec-proven row-identical to the full
    * `(F_old ∪ ΔF) ⋈ (D_old ∪ ΔD)` recompute. */
  def maintainJoinView(viewOld: DataFrame, factOld: DataFrame,
      factDelta: DataFrame, dimOld: DataFrame, dimDelta: DataFrame,
      keys: Seq[String]): DataFrame =
    viewOld.unionByName(
      joinViewDelta(factOld, factDelta, dimOld, dimDelta, keys))
}
