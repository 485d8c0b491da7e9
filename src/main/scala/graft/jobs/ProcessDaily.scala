package graft.jobs

import graft.core.{FanOut, Tables}
import graft.entities.{Pipelines, Specs}
import graft.ingest.Staging
import graft.ops.MergeOnRead
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{bool_or, col}

/** The daily merge job — `ProcessDaily(@Year,@Month,@Day)`
  * (/root/reference/USQL/ProcessDaily.usql:7-3593) as one function.
  *
  * The reference runs its 30+ entity pipelines serially inside one script;
  * they are mutually independent (SURVEY.md §3.E2), so here they submit as
  * concurrent Spark jobs — the scheduler interleaves their stages across the
  * cluster, hiding the long tail of small entities behind the big ones.
  *
  * A day launches only the jobs its data needs. One aggregate over the
  * cached day — which also fills the cache, before the pipelines start —
  * finds which entities have rows. The full rewrite then skips an
  * entity's pipeline when all of these hold:
  *  - the day has no row for its entity;
  *  - its spec truncates (CommitParent's append quirk re-appends its
  *    table every day, rows or not);
  *  - every table it writes exists (a bootstrap day writes every table);
  *  - each table's footer schema equals the pipeline's fresh-row schema,
  *    ignoring nullability (a table from an older spec is rewritten).
  * Merging an empty day into such a table reproduces the table, so the
  * skip leaves the rows on disk exactly as the rewrite would. [[runMor]]
  * skips an absent entity's delta append: under dynamic partition
  * overwrite, writing zero rows changes no partition.
  */
object ProcessDaily {

  /** One entity's daily work: the tables its rewrite writes (the first is
    * also its merge-on-read table), its staging filter, its rewrite-path
    * fresh rows, the rewrite executor, and its merge-on-read delta rows. */
  private final case class Entity(
      tables: Seq[String],
      pred: Column,
      truncate: Boolean,
      fresh: DataFrame => DataFrame,
      rewrite: (SparkSession, DataFrame, String) => Unit,
      delta: DataFrame => DataFrame)

  private val entityName = col("entity_name")

  private val entities: Seq[Entity] =
    Specs.snapshots.map(s => Entity(Seq(s.table), s.entityPred(entityName), s.truncate,
      Pipelines.freshSnapshot(_, s),
      (spark, d, dir) => { Pipelines.runSnapshot(spark, d, dir, s); () },
      Pipelines.freshSnapshot(_, s))) ++
    Specs.arrayChildren.map(s => Entity(Seq(s.table), s.entityPred(entityName), s.truncate,
      Pipelines.freshArrayChild(_, s),
      (spark, d, dir) => { Pipelines.runArrayChild(spark, d, dir, s); () },
      Pipelines.freshArrayChild(_, s))) ++
    Specs.collections.map(s => Entity(Seq(s.table), entityName === s.entity, truncate = true,
      Pipelines.freshCollection(_, s, keepDate = false),
      (spark, d, dir) => { Pipelines.runCollection(spark, d, dir, s); () },
      Pipelines.freshCollection(_, s))) ++
    Specs.traffic.map(s => Entity(Seq(s.table), entityName === s.entity, truncate = true,
      Pipelines.freshTraffic(_, s),
      (spark, d, dir) => { Pipelines.runTraffic(spark, d, dir, s); () },
      Pipelines.freshTraffic(_, s))) :+ {
    val repo = Specs.repo
    Entity(Seq(repo.snapshot.table, repo.logTable), repo.snapshot.entityPred(entityName),
      truncate = true, Pipelines.freshSnapshot(_, repo.snapshot),
      (spark, d, dir) => { Pipelines.runSnapshotLog(spark, d, dir, repo); () },
      Pipelines.freshSnapshot(_, repo.snapshot))
  }

  /** Which entities have at least one row in `day`, in one aggregate. */
  private def present(day: DataFrame): Seq[Boolean] = {
    val row = day.agg(bool_or(entities.head.pred), entities.tail.map(e => bool_or(e.pred)): _*)
      .head()
    entities.indices.map(i => !row.isNullAt(i) && row.getBoolean(i))
  }

  /** Run every entity pipeline for one ingest day. Returns table names. */
  def run(spark: SparkSession, stagingDir: String, curatedDir: String,
      ingestDate: String, parallelism: Int = 4): Seq[String] =
    runOn(spark, Staging.readStaging(spark, stagingDir, ingestDate), curatedDir, parallelism)

  /** Run every entity pipeline over an arbitrary staged frame (one day for
    * the daily merge; the whole history for [[Bootstrap]]), skipping the
    * entities the skip rule above allows. `day` is cached for the run and
    * unpersisted on exit. Returns the names of the tables written. */
  def runOn(spark: SparkSession, day: DataFrame, curatedDir: String,
      parallelism: Int = 4): Seq[String] = {
    def unchanged(e: Entity, d: DataFrame): Boolean = e.truncate && {
      val schema = e.fresh(d).schema
      e.tables.forall { t =>
        try Tables.sameShape(Tables.schemaOf(spark, Pipelines.tablePath(curatedDir, t)), schema)
        catch { case _: AnalysisException => false } // absent table or no footer
      }
    }
    FanOut(day, parallelism) { d =>
      entities.zip(present(d)).map { case (e, has) =>
        () => if (!has && unchanged(e, d)) Nil else { e.rewrite(spark, d, curatedDir); e.tables }
      }
    }.flatten
  }

  /** The daily merge in merge-on-read mode: each entity with rows appends
    * its day as an O(delta) delta partition instead of rewriting the
    * table; [[morView]] resolves the identical table at read time, and
    * `MergeOnRead.compact` amortizes the full rewrite across runs.
    * Latest-wins entities (snapshots, array children, traffic, Repo —
    * whose RepoLog is a second view over the SAME deltas at version
    * grain) resolve per key; collections resolve latest-day-wins per
    * origin (wholesale replacement + carry-forward). CommitParent's
    * faithful append-only quirk (duplicates accumulating run over run,
    * ProcessDaily.usql:409) is NOT reproduced — the MOR view gives the
    * corrected latest-wins semantics for it. Returns the tables appended. */
  def runMor(spark: SparkSession, stagingDir: String, morDir: String,
      ingestDate: String, parallelism: Int = 4): Seq[String] =
    FanOut(Staging.readStaging(spark, stagingDir, ingestDate), parallelism) { d =>
      entities.zip(present(d)).collect { case (e, true) =>
        () => { MergeOnRead.appendDelta(e.delta(d), morDir, e.tables.head); e.tables.head }
      }
    }

  /** The merge-on-read view for any table maintained by [[runMor]] —
    * row-identical to the full-rewrite executor's parquet table (modulo
    * the documented CommitParent quirk and the collection views' extra
    * `etl_ingest_date` provenance column). An entity that never had a row
    * reads as an empty frame with its view's columns; building the frame
    * runs no job. */
  def morView(spark: SparkSession, morDir: String, table: String): DataFrame = {
    val e = entities.find(_.tables.contains(table)).getOrElse(
      throw new IllegalArgumentException(s"$table is not a merge-on-read entity"))
    val like = Some(e.delta(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Staging.schema)))
    (Specs.snapshots :+ Specs.repo.snapshot).find(_.table == table).map(_ =>
      MergeOnRead.readSnapshot(spark, morDir, table,
        Seq("etl_source_id"), Pipelines.mergeOrder, like))
      .orElse(if (table == Specs.repo.logTable)
        // RepoLog: the same repo deltas resolved at (key, version) grain
        Some(MergeOnRead.readSnapshot(spark, morDir, Specs.repo.snapshot.table,
          Seq("etl_source_id", Specs.repo.versionField), Pipelines.mergeOrder, like))
      else None)
      .orElse(Specs.arrayChildren.find(_.table == table).map(_ =>
        MergeOnRead.readSnapshot(spark, morDir, table,
          Seq("etl_source_id", "element_index"), Pipelines.mergeOrder, like)))
      .orElse(Specs.traffic.find(_.table == table).map(s =>
        MergeOnRead.readSnapshot(spark, morDir, table,
          s.dedupKeys, Pipelines.trafficOrder(s), like)))
      .getOrElse {
        val s = Specs.collections.find(_.table == table).get
        MergeOnRead.readCollectionSnapshot(spark, morDir, table, s.originCol, like)
      }
  }

  /** Stage + merge: the two reference procedures chained for one date. */
  def stageAndProcess(spark: SparkSession, rawRoot: String, stagingDir: String,
      curatedDir: String, date: java.time.LocalDate): Seq[String] = {
    Staging.stageDay(spark, rawRoot, stagingDir, date)
    run(spark, stagingDir, curatedDir, date.toString)
  }
}
