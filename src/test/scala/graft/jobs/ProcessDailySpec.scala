package graft.jobs

import graft.SparkSpec
import graft.core.Tables
import graft.entities.{Fixtures, Pipelines, Specs}
import graft.ingest.Staging
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** A day launches only the jobs its data needs: entities absent from the
  * day keep their tables untouched, and what lands on disk is what the
  * executors themselves would have written. */
class ProcessDailySpec extends SparkSpec {
  import Fixtures._

  private val d1 = java.time.LocalDate.of(2018, 5, 1)
  private val d2 = java.time.LocalDate.of(2018, 5, 2)

  /** Day 1 has most entity kinds; day 2 only re-crawls the repo and the
    * user, so commits, issues, events, collections and traffic are absent. */
  private def writeDays(raw: String): Unit = {
    writeDay(raw, d1, Seq(
      commitDoc("urn:repo:1:commit:c1", "c1", "first", "2018-05-01T01:00:00Z",
        files = Seq(("a.scala", 10), ("b.scala", 5)), parents = Seq("p1", "p2")),
      repoDoc("urn:repo:1", "r", "2018-04-20T00:00:00Z", "2018-05-01T02:00:00Z", 7),
      collabDoc("urn:repo:1:collaborators:page:1", "urn:repo:1",
        "2018-05-01T01:00:00Z", Seq("urn:user:42", "urn:user:43")),
      clonesDoc("urn:repo:1:clones", "urn:repo:1", "2018-05-01T03:00:00Z",
        Seq(("2018-04-30T00:00:00Z", 3, 2))),
      referrersDoc("urn:repo:1:referrers", "urn:repo:1", "2018-05-01T03:00:00Z",
        Seq(("google.com", 5, 4))),
      pushEventDoc("urn:event:1", "2018-05-01T04:00:00Z", Seq("s1", "s2")),
      issueDoc("urn:repo:1:issue:7", 7, "2018-05-01T05:00:00Z", Seq("bug")),
      userDoc("urn:user:42", "alice", "2018-05-01T06:00:00Z")))
    writeDay(raw, d2, Seq(
      repoDoc("urn:repo:1", "r", "2018-05-01T12:00:00Z", "2018-05-02T02:00:00Z", 9),
      userDoc("urn:user:42", "alice2", "2018-05-02T06:00:00Z")))
  }

  private val allTables: Seq[String] =
    Specs.snapshots.map(_.table) ++ Seq(Specs.repo.snapshot.table, Specs.repo.logTable) ++
      Specs.arrayChildren.map(_.table) ++ Specs.collections.map(_.table) ++
      Specs.traffic.map(_.table)

  /** Every executor called directly, as the daily merge did before it
    * skipped anything. */
  private def runEveryExecutor(day: DataFrame, curated: String): Unit = {
    Specs.snapshots.foreach(Pipelines.runSnapshot(spark, day, curated, _))
    Specs.arrayChildren.foreach(Pipelines.runArrayChild(spark, day, curated, _))
    Specs.collections.foreach(Pipelines.runCollection(spark, day, curated, _))
    Specs.traffic.foreach(Pipelines.runTraffic(spark, day, curated, _))
    Pipelines.runSnapshotLog(spark, day, curated, Specs.repo)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Part files of a table: name → modification time. */
  private def parts(curated: String, table: String): Map[String, Long] =
    new java.io.File(Pipelines.tablePath(curated, table)).listFiles()
      .filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap

  private def read(curated: String, table: String): DataFrame =
    spark.read.parquet(Pipelines.tablePath(curated, table))

  /** Stages both days and lands day 1 in `curated` and in `reference`. */
  private def landDay1(root: String): (String, String, String) = {
    val (staging, curated, reference) = (s"$root/staging", s"$root/curated", s"$root/reference")
    writeDays(s"$root/raw/v1")
    Seq(d1, d2).foreach(Staging.stageDay(spark, s"$root/raw/v1", staging, _))
    ProcessDaily.run(spark, staging, curated, d1.toString)
    runEveryExecutor(Staging.readStaging(spark, staging, d1.toString), reference)
    (staging, curated, reference)
  }

  test("a day without some entities leaves their tables as they are; every table equals the executors' output") {
    val (staging, curated, reference) = landDay1(scratch("graft-pd-skip"))
    val before = allTables.map(t => t -> parts(curated, t)).toMap
    val commitParentRows = read(curated, Specs.commitParent.table).count()
    assert(commitParentRows == 2)

    val written = ProcessDaily.run(spark, staging, curated, d2.toString)
    runEveryExecutor(Staging.readStaging(spark, staging, d2.toString), reference)

    for (t <- allTables) {
      val (got, want) = (read(curated, t), read(reference, t))
      assert(Tables.sameShape(got.schema, want.schema), s"$t schema")
      assert(rows(got) == rows(want), s"$t rows differ from the executors' output")
    }
    // only the entities present on day 2, plus CommitParent's append quirk
    val rewritten = Set(Specs.user.table, Specs.repo.snapshot.table, Specs.repo.logTable,
      Specs.commitParent.table)
    assert(written.toSet == rewritten)
    for (t <- allTables) {
      if (rewritten(t)) assert(parts(curated, t) != before(t), s"$t was not rewritten")
      else assert(parts(curated, t) == before(t), s"$t was rewritten on a day without its entity")
    }
    // CommitParent re-appends its deduped table on a day with no commits
    assert(read(curated, Specs.commitParent.table).count() == 2 * commitParentRows)
    assert(read(curated, Specs.user.table).select("login").collect().map(_.getString(0))
      .toSeq == Seq("alice2"))
  }

  test("a table whose on-disk schema differs from its spec is rewritten on a day without its entity") {
    val (staging, curated, reference) = landDay1(scratch("graft-pd-schema"))
    val issue = Specs.issue.table
    // an older spec wrote one column more
    Pipelines.overwriteCurated(
      read(curated, issue).withColumn("legacy", col("title")), curated, issue)
    val before = parts(curated, issue)
    assert(read(curated, issue).columns.contains("legacy"))

    val written = ProcessDaily.run(spark, staging, curated, d2.toString)
    runEveryExecutor(Staging.readStaging(spark, staging, d2.toString), reference)

    assert(written.contains(issue))
    assert(parts(curated, issue) != before)
    val (got, want) = (read(curated, issue), read(reference, issue))
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(rows(got) == rows(want))
    assert(rows(got).nonEmpty)
  }

  test("a one-entity day launches a handful of jobs; the bootstrap of the same day many more") {
    val root = scratch("graft-pd-jobs")
    val (raw, staging) = (s"$root/raw/v1", s"$root/staging")
    writeDays(raw)
    Seq(d1, d2).foreach(Staging.stageDay(spark, raw, staging, _))
    ProcessDaily.run(spark, staging, s"$root/curated", d1.toString)
    val d3 = d2.plusDays(1)
    writeDay(raw, d3, Seq(userDoc("urn:user:42", "alice3", "2018-05-03T06:00:00Z")))
    Staging.stageDay(spark, raw, staging, d3)

    val oneEntity = jobsDuring(ProcessDaily.run(spark, staging, s"$root/curated", d3.toString))
    // the same day into an empty store writes all 33 tables
    val bootstrap = jobsDuring(ProcessDaily.run(spark, staging, s"$root/fresh", d3.toString))
    // presence aggregate + the user and CommitParent rewrites
    assert(oneEntity <= 8, s"$oneEntity jobs for a one-entity day")
    assert(bootstrap >= 33, s"the counter is vacuous: $bootstrap jobs for a bootstrap day")
  }

  test("morView of an entity that never had a row is empty, with the classic table's columns, and runs no job") {
    val root = scratch("graft-pd-morview")
    val (raw, staging, mor) = (s"$root/raw/v1", s"$root/staging", s"$root/mor")
    writeDays(raw)
    Staging.stageDay(spark, raw, staging, d1)
    ProcessDaily.run(spark, staging, s"$root/curated", d1.toString)
    val appended = ProcessDaily.runMor(spark, staging, mor, d1.toString)
    assert(appended.contains(Specs.commit.table))
    val unseen = Seq(Specs.pullRequest.table, Specs.eventPayloadPage.table,
      "repo_teams", "repo_paths")
    assert(unseen.forall(t => !appended.contains(t)))
    for (t <- unseen) {
      var view: DataFrame = null
      assert(jobsDuring { view = ProcessDaily.morView(spark, mor, t) } == 0, t)
      val classic = read(s"$root/curated", t).columns.toSeq
      val extra = if (Specs.collections.exists(_.table == t)) Seq("etl_ingest_date") else Nil
      assert(view.columns.toSeq.sorted == (classic ++ extra).sorted, t)
      assert(view.count() == 0, t)
    }
  }
}
