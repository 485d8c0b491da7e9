package graft.entities

import graft.SparkSpec
import graft.ingest.Staging
import graft.jobs.ProcessDaily
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden end-to-end: fixture JSON → staging → two ProcessDaily runs →
  * every FIXTURES.md invariant asserted on the curated tables. */
class PipelineSpec extends SparkSpec {

  private lazy val root = scratch("graft-e2e")
  private lazy val raw = s"$root/raw/v1"
  private lazy val staging = s"$root/staging"
  private lazy val curated = s"$root/curated"

  private def t(name: String): DataFrame =
    spark.read.parquet(Pipelines.tablePath(curated, name))

  /** Run the whole two-day pipeline exactly once for all tests. */
  private lazy val ran: Unit = {
    Fixtures.writeStandardFixture(raw)
    ProcessDaily.stageAndProcess(spark, raw, staging, curated, Fixtures.day1)
    ProcessDaily.stageAndProcess(spark, raw, staging, curated, Fixtures.day2)
  }

  test("staging silently skips malformed docs and promotes metadata") {
    ran
    val day1 = Staging.readStaging(spark, staging, "2017-03-01")
    assert(day1.count() == 11) // 12 lines - 1 malformed
    val c1 = day1.where(col("urn") === "urn:repo:1:commit:c1").head()
    assert(c1.getAs[String]("entity_name") == "commit")
    assert(c1.getAs[java.sql.Timestamp]("processed_at") != null)
    assert(c1.getAs[java.sql.Timestamp]("deleted_at") == null)
  }

  test("raw scan binds the file_name virtual column from the path") {
    ran
    val names = Staging.readRawDay(spark, raw, Fixtures.day1)
      .select("file_name").distinct().collect().map(_.getString(0)).toSet
    assert(names == Set("docs"))
  }

  test("staging day re-run is idempotent (partition replace)") {
    ran
    Staging.stageDay(spark, raw, staging, Fixtures.day1)
    assert(Staging.readStaging(spark, staging, "2017-03-01").count() == 11)
  }

  test("snapshot merge: latest version wins, tombstone ranked by deleted_at") {
    ran
    val commit = t("commit")
    assert(commit.count() == 3) // c1, c2, c3
    val c1 = commit.where(col("etl_source_id") === "urn:repo:1:commit:c1").head()
    assert(c1.getAs[String]("commit_message") == "second")
    assert(c1.getAs[String]("etl_ingest_date") == "2017-03-02")
    val c3 = commit.where(col("etl_source_id") === "urn:repo:1:commit:c3").head()
    assert(c3.getAs[java.sql.Timestamp]("deleted_at") != null)
    // missing optionals extract as null, not failure
    val c2 = commit.where(col("etl_source_id") === "urn:repo:1:commit:c2").head()
    assert(c2.getAs[Any]("stat_additions") != null) // present field
  }

  test("processing a day twice is a no-op (merge idempotence)") {
    ran
    val before = t("commit").orderBy("etl_source_id").collect().toSeq
    ProcessDaily.run(spark, staging, curated, "2017-03-02")
    val after = t("commit").orderBy("etl_source_id").collect().toSeq
    assert(before == after)
  }

  test("array child: elements keyed (parent urn, index), latest doc wins") {
    ran
    val files = t("commit_file")
    val c1Files = files.where(col("etl_source_id") === "urn:repo:1:commit:c1")
      .orderBy("element_index").collect()
    assert(c1Files.length == 2)
    assert(c1Files(0).getAs[String]("filename") == "a.scala")
    assert(c1Files(0).getAs[Int]("additions") == 11) // day-2 version
    assert(c1Files(1).getAs[Int]("additions") == 6)
    // empty files[] → no child rows
    assert(files.where(col("etl_source_id") === "urn:repo:1:commit:c2").count() == 0)
  }

  test("commit_parent append-only fidelity quirk accumulates duplicates") {
    ran
    // day1 run appends rank-1 (2 rows); day2 run appends rank-1 again on
    // top of the untruncated table (ProcessDaily.usql:409)
    val parents = t("commit_parent")
      .where(col("etl_source_id") === "urn:repo:1:commit:c1")
    assert(parents.count() >= 4)
  }

  test("collection merge: re-crawled origin replaced wholesale, rest carried") {
    ran
    val collab = t("repo_collaborators")
    val r1 = collab.where(col("origin_urn") === "urn:repo:1")
      .select("member_urn").collect().map(_.getString(0)).toSet
    assert(r1 == Set("urn:user:42", "urn:user:45")) // day-2 page replaced day-1's
    val r2 = collab.where(col("origin_urn") === "urn:repo:2")
      .select("member_urn").collect().map(_.getString(0)).toSet
    assert(r2 == Set("urn:user:5")) // not re-crawled — carried forward
  }

  test("within one day, only the origin's most recent crawl counts") {
    val dir = scratch("graft-collection")
    Fixtures.writeStandardFixture(s"$dir/raw/v1")
    Staging.stageDay(spark, s"$dir/raw/v1", s"$dir/staging", Fixtures.day1)
    val day = Staging.readStaging(spark, s"$dir/staging", "2017-03-01")
    Pipelines.runCollection(spark, day, s"$dir/curated", Specs.collections.head)
    val r1 = spark.read.parquet(s"$dir/curated/repo_collaborators")
      .where(col("origin_urn") === "urn:repo:1")
      .select("member_urn").collect().map(_.getString(0)).toSeq
    // page:2 (processed 03:00) wins over page:1 (01:00); duplicates collapsed
    assert(r1.sorted == Seq("urn:user:42", "urn:user:44"))
  }

  test("snapshot+log: snapshot keeps latest, log keeps one row per version") {
    ran
    val repo = t("repo")
    assert(repo.count() == 1)
    assert(repo.head().getAs[Int]("stargazers_count") == 9)
    val log = t("repo_log").orderBy("updated_at").collect()
    assert(log.length == 2)
    assert(log.map(_.getAs[Int]("stargazers_count")).toSeq == Seq(7, 9))
  }

  test("traffic faithful mode collapses each doc to one element; latest processed wins per data_date") {
    ran
    val clones = t("repo_clones").orderBy("data_date")
    val rows = clones.collect()
    // Faithful document-collapse (ProcessDaily.usql:3256-3274): each doc
    // keeps only its LAST element, so day-1 yields (2017-03-01, 20) and
    // day-2 yields (2017-03-02, 5). Day-2's re-observation of 2017-03-01
    // (count 21) sits at index 0 and is DISCARDED by the collapse — the
    // reference quirk this mode preserves. Corrected mode keeps it.
    assert(rows.map(r => r.getAs[java.sql.Timestamp]("data_date").toString -> r.getAs[Int]("count")).toSeq
      == Seq("2017-03-01 00:00:00.0" -> 20, "2017-03-02 00:00:00.0" -> 5))
  }

  test("traffic corrected mode keeps every array element") {
    val dir = scratch("graft-traffic")
    Fixtures.writeStandardFixture(s"$dir/raw/v1")
    Staging.stageDay(spark, s"$dir/raw/v1", s"$dir/staging", Fixtures.day1)
    val day = Staging.readStaging(spark, s"$dir/staging", "2017-03-01")
    Pipelines.runTraffic(spark, day, s"$dir/curated", Specs.clones, faithful = false)
    assert(spark.read.parquet(s"$dir/curated/repo_clones").count() == 2)
  }

  test("traffic faithful mode silently skips a doc with an empty array") {
    import spark.implicits._
    // inactive repos crawl as {"clones":[]} — under ANSI mode a plain
    // element_at(arr, -1) would throw and kill the whole daily run
    val day = Staging.stage(Seq(
      Fixtures.clonesDoc("urn:repo:9:clones:20170301", "urn:repo:9",
        "2017-03-01T04:00:00Z", Seq.empty)
    ).toDF("data"), "2017-03-01")
    val dir = scratch("graft-traffic-empty")
    val out = Pipelines.runTraffic(spark, day, dir, Specs.clones)
    assert(out.count() == 0)
  }

  test("referrers (unordered rank) produce deterministic rows") {
    ran
    val refs = t("repo_referrers").orderBy("referrer").collect()
    assert(refs.map(_.getAs[String]("referrer")).toSeq ==
      Seq("lobste.rs")) // faithful: doc collapses to last element
  }

  test("event LIKE filter and payload child normalize") {
    ran
    val ev = t("event")
    assert(ev.count() == 1)
    assert(ev.head().getAs[String]("type") == "PushEvent")
    val pc = t("event_payload_commit")
    assert(pc.count() == 1)
    assert(pc.head().getAs[String]("sha") == "c1")
    assert(pc.head().getAs[String]("author_name") == "Alice")
  }

  test("issue labels child keyed by (issue urn, index)") {
    ran
    val labels = t("issue_label").orderBy("element_index").collect()
    assert(labels.map(_.getAs[String]("label_name")).toSeq == Seq("bug", "help wanted"))
  }

  test("shared members entity routes by required org/team link") {
    import spark.implicits._
    def membersDoc(self: String, origin: String, link: String, member: String) =
      s"""{"_metadata":{"type":"members","processedAt":"2017-03-01T10:00:00Z",""" +
        s""""links":{"self":{"href":"$self"},"origin":{"href":"$origin"},$link,""" +
        s""""resources":{"hrefs":["$member"]}}}}"""
    val day = graft.ingest.Staging.stage(Seq(
      membersDoc("urn:m:1", "urn:org:1:members", """"org":{"href":"urn:org:1"}""", "urn:user:1"),
      membersDoc("urn:m:2", "urn:team:7:members", """"team":{"href":"urn:team:7"}""", "urn:user:2")
    ).toDF("data"), "2017-03-01")
    val dir = scratch("graft-members")
    val org = Pipelines.runCollection(spark, day, dir,
      Specs.collections.find(_.table == "org_members").get)
    val team = Pipelines.runCollection(spark, day, dir,
      Specs.collections.find(_.table == "team_members").get)
    assert(org.select("member_urn").collect().map(_.getString(0)).toSeq == Seq("urn:user:1"))
    assert(team.select("member_urn").collect().map(_.getString(0)).toSeq == Seq("urn:user:2"))
  }

  test("full-width projection extracts deep nested paths (PullRequest sample)") {
    import spark.implicits._
    val doc =
      """{"_metadata":{"type":"pull_request","processedAt":"2017-03-01T10:00:00Z",""" +
        """"version":9,"links":{"self":{"href":"urn:pr:1"},"repo":{"href":"urn:repo:1"}}},""" +
        """"id":42,"number":7,"state":"open","title":"T","merged":false,""" +
        """"base":{"label":"o:main","ref":"main","sha":"bsha",""" +
        """"repo":{"id":11,"full_name":"o/r","language":"Scala","fork":false,""" +
        """"owner":{"id":5,"login":"o"}}},""" +
        """"head":{"ref":"fix","sha":"hsha","repo":{"id":12}},""" +
        """"user":{"id":9,"login":"u9","site_admin":true},""" +
        """"created_at":"2017-02-01T00:00:00Z"}"""
    val day = graft.ingest.Staging.stage(Seq(doc).toDF("data"), "2017-03-01")
    val dir = scratch("graft-prwide")
    val pr = Pipelines.runSnapshot(spark, day, dir, Specs.pullRequest).head()
    assert(pr.getAs[String]("base_label") == "o:main")
    assert(pr.getAs[Int]("base_repo_id") == 11)
    assert(pr.getAs[String]("base_repo_language") == "Scala")
    assert(pr.getAs[String]("base_repo_owner_login") == "o")
    assert(pr.getAs[Int]("head_repo_id") == 12)
    assert(pr.getAs[Boolean]("user_site_admin"))
    assert(pr.getAs[Int]("schema_version") == 9)
    // absent optional paths surface as null, never fail
    assert(pr.getAs[Any]("merged_by_id") == null)
  }

  test("per-repo export emits joined TSVs") {
    ran
    val out = scratch("graft-export")
    val dfs = graft.jobs.GetRepoData.run(spark, curated, out, "o", "r")
    assert(dfs("event").count() == 1)
    assert(dfs("issue").count() == 1)
    assert(new java.io.File(s"$out/o-r-event.tsv").exists())
  }

  test("project parses the document once and matches the per-field from_json form") {
    ran
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    val staged = Staging.readAll(spark, staging) // both days, one scan
    def parses(df: DataFrame): Int = df.queryExecution.optimizedPlan.collect {
      case n => n.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum
    }.sum
    for (spec <- Specs.snapshots :+ Specs.repo.snapshot) {
      val schema = graft.json.PathSchema.forPaths(spec.fields.map(_.path))
      val perField = staged.select(Pipelines.metaCols(col("ingest_date")) ++
        spec.fields.map(f => Pipelines.typedParsed(from_json(col("data"), schema), f)): _*)
      val once = Pipelines.project(staged, spec.fields)
      assert(once.schema == perField.schema, spec.table)
      assert(once.exceptAll(perField).isEmpty && perField.exceptAll(once).isEmpty, spec.table)
      assert(parses(once) == 1, spec.table)
    }
    val wide = Specs.pullRequest.fields
    val perField = staged.select(wide.map(f => Pipelines.typedParsed(
      from_json(col("data"), graft.json.PathSchema.forPaths(wide.map(_.path))), f)): _*)
    assert(parses(perField) > 1, "the parse counter is vacuous")
  }
}
