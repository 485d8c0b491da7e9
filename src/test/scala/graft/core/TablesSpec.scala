package graft.core

import graft.SparkSpec
import graft.entities.Fixtures
import graft.ingest.Staging
import graft.jobs.ProcessDaily
import org.apache.spark.sql.AnalysisException

/** SQL-first access: the curated warehouse and the test corpus register
  * as views, and multi-table SQL (the reference users' surface) runs
  * against them with engine functions available. */
class TablesSpec extends SparkSpec {

  test("registerCurated exposes the warehouse to spark.sql joins") {
    val dir = scratch("graft-views")
    Fixtures.writeStandardFixture(s"$dir/raw/v1")
    ProcessDaily.stageAndProcess(spark, s"$dir/raw/v1", s"$dir/staging",
      s"$dir/curated", Fixtures.day1)
    val tables = Tables.registerCurated(spark, s"$dir/curated")
    assert(tables.contains("commit") && tables.contains("repo"))
    assert(tables.size == 33)
    val joined = spark.sql(
      """SELECT c.etl_source_id, f.filename
        |FROM commit c JOIN commit_file f ON f.etl_source_id = c.etl_source_id
        |ORDER BY f.element_index""".stripMargin)
    assert(joined.count() >= 2)
  }

  test("saveBucketed: co-bucketed join plans with zero shuffle exchanges (S7 fidelity)") {
    import spark.implicits._
    val left = (0L until 1000L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (0L until 1000L by 3).map(i => (i, s"r$i")).toDF("k", "rv")
    Tables.saveBucketed(left, "bkt_left", buckets = 8, keys = Seq("k"),
      sortKeys = Seq("k"))
    Tables.saveBucketed(right, "bkt_right", buckets = 8, keys = Seq("k"),
      sortKeys = Seq("k"))
    try {
      // forbid broadcast so the test can't pass vacuously
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        assert(joined.count() === 334)
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"co-bucketed join must not shuffle:\n$plan")
        // differential: same rows as the unbucketed join
        val want = left.join(right, "k").count()
        assert(joined.count() === want)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  test("schema evolution: mergeSchema unifies widened snapshots, old rows null-filled") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // day 1: the crawler emits (urn, sha); day 2 adds a column (message) —
    // the reference handles this by editing DDL + full rebuild; a data
    // lake handles it by reading with schema merge: the union schema, old
    // rows null for the new column, no rewrite of day-1 files
    val dir = scratch("schema-evo")
    Seq(("urn:c:1", "v1")).toDF("urn", "sha")
      .write.parquet(s"$dir/d=2024-01-01")
    Seq(("urn:c:2", "v2", "fix build")).toDF("urn", "sha", "message")
      .write.parquet(s"$dir/d=2024-01-02")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("urn", "sha", "message", "d"))
    val rows = merged.select("urn", "message").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(rows("urn:c:1").isEmpty)            // old row: null-filled
    assert(rows("urn:c:2").contains("fix build"))
    // and the projection still prunes: scanning only day-1 columns works
    assert(merged.where(col("d") === "2024-01-01").count() == 1)
  }

  test("registerTestTables + engine SQL functions work end to end") {
    graft.plans.GraftExtensions.register(spark)
    val tables = Tables.registerTestTables(spark, "/root/testdata/sf0.001")
    assert(tables.contains("documents") && tables.contains("lineitem"))
    val n = spark.sql(
      """SELECT count(*) FROM (
        |  SELECT doc_id, explode(ngram_shingle_hashes(split(text, ' '), 3)) h
        |  FROM documents LIMIT 100)""".stripMargin).head().getLong(0)
    assert(n == 100)
  }

  test("readEvolved surfaces columns added by later writes, nulls for old files") {
    import spark.implicits._
    val dir = s"${scratch("evolve")}/t"
    // v1 files: (id, name); v2 adds score
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode("append").parquet(dir)
    Seq((3L, "c", 9.5)).toDF("id", "name", "score")
      .write.mode("append").parquet(dir)
    val df = Tables.readEvolved(spark, dir)
    assert(df.columns.sorted.toSeq == Seq("id", "name", "score"))
    val byId = df.collect().map(r => r.getAs[Long]("id") ->
      (if (r.isNullAt(r.fieldIndex("score"))) None
       else Some(r.getAs[Double]("score")))).toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> Some(9.5)))
    // plain read may bind to a single footer's schema — readEvolved is
    // the contract for evolved tables, not the default scan
  }

  private val corpusTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  test("schemaOf matches spark.read.parquet's inferred schema on the corpus") {
    for (sf <- Seq("sf0.001", "sf0.01"); t <- corpusTables) {
      val p = s"/root/testdata/$sf/$t.parquet"
      assert(Tables.schemaOf(spark, p) == spark.read.parquet(p).schema, p)
    }
  }

  test("schemaOf honours Spark's row-metadata key on nested, NTZ and decimal columns") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.MetadataBuilder
    val dir = s"${scratch("schemaof-spark")}/t"
    val comment = new MetadataBuilder().putString("comment", "row key").build()
    spark.range(5).select(
      col("id").as("id", comment),
      expr("CAST(id AS DECIMAL(20, 4))").as("dec"),
      expr("CAST(TIMESTAMP_NTZ'2024-01-01 00:00:00' AS TIMESTAMP_NTZ)").as("ntz"),
      current_timestamp().as("ts"),
      struct(col("id").as("a"), struct(lit("x").as("c")).as("b")).as("s"),
      array(col("id"), lit(null).cast("long")).as("arr"),
      map(lit("k"), struct(col("id").as("v"))).as("m"))
      .write.parquet(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toString),
        spark.sparkContext.hadoopConfiguration))
    val kv = try reader.getFooter.getFileMetaData.getKeyValueMetaData
      finally reader.close()
    assert(kv.containsKey("org.apache.spark.sql.parquet.row.metadata"))
    val got = Tables.schemaOf(spark, dir)
    assert(got == spark.read.parquet(dir).schema)
    assert(got("id").metadata == comment, "the row-metadata schema was not used")
    assert(Tables.schemaOf(spark, part.toString) ==
      spark.read.parquet(part.toString).schema)
  }

  test("Tables.table launches no Spark job; an inferring read does") {
    val dir = "/root/testdata/sf0.01"
    assert(jobsDuring(corpusTables.foreach(t => Tables.table(spark, dir, t))) == 0)
    assert(jobsDuring(spark.read.parquet(s"$dir/orders.parquet")) >= 1,
      "the counter is vacuous: inference should launch a job")
  }

  test("schemaOf re-reads the footer: an overwrite between calls is seen") {
    import spark.implicits._
    val dir = scratch("schemaof-rewrite")
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    Seq((2.5, true)).toDF("score", "flag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.table(spark, dir, "t")
    assert(df.columns.toSeq == Seq("score", "flag"))
    assert(df.as[(Double, Boolean)].collect().toSeq == Seq((2.5, true)))
  }

  test("schemaOf fails like spark.read.parquet on a missing path or an empty dir") {
    def same(path: String, condition: String): Unit = {
      val want = intercept[AnalysisException](spark.read.parquet(path))
      val got = intercept[AnalysisException](Tables.schemaOf(spark, path))
      assert(want.getCondition == condition)
      assert(got.getCondition == want.getCondition)
      assert(got.getMessage == want.getMessage)
    }
    val dir = scratch("schemaof-missing")
    same(s"$dir/absent.parquet", "PATH_NOT_FOUND")
    same(dir, "UNABLE_TO_INFER_SCHEMA")
    val e = intercept[AnalysisException](Tables.table(spark, dir, "absent"))
    assert(graft.core.FsOps.isMissingPath(e))
  }

  test("schemaOf reads partitioned staging and merge-on-read delta dirs like inference") {
    import graft.entities.Fixtures
    import graft.ingest.Staging
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{DateType, StringType}
    val root = scratch("schemaof-partitioned")
    Fixtures.writeStandardFixture(s"$root/raw/v1")
    for (d <- Seq(Fixtures.day1, Fixtures.day2))
      Staging.stageDay(spark, s"$root/raw/v1", s"$root/staging", d)
    val staging = s"$root/staging"
    graft.ops.MergeOnRead.appendDelta(
      spark.read.parquet(staging).select(col("urn"), col("ingest_date").cast("string")
        .as("etl_ingest_date")), s"$root/mor", "t")
    val delta = s"$root/mor/t/delta"
    for (p <- Seq(staging, delta)) {
      val inferred = spark.read.parquet(p)
      val read = Tables.parquet(spark, p)
      assert(read.schema == inferred.schema, p)
      assert(read.schema("ingest_date").dataType == DateType, p)
      assert(Tables.schemaOf(spark, p).fieldNames.toSeq ==
        inferred.schema.fieldNames.toSeq.filterNot(Set("ingest_date", "entity_name")), p)
      assert(jobsDuring(Tables.parquet(spark, p)) == 0, p)
    }
    assert(Tables.parquet(spark, staging).schema("entity_name").dataType == StringType)
    assert(rowsOf(Tables.parquet(spark, staging)) == rowsOf(spark.read.parquet(staging)))

    def same(path: String, condition: String): Unit = {
      val want = intercept[AnalysisException](spark.read.parquet(path))
      val got = intercept[AnalysisException](Tables.schemaOf(spark, path))
      assert(want.getCondition == condition)
      assert(got.getCondition == want.getCondition)
      assert(got.getMessage == want.getMessage)
    }
    // an entity with no rows writes a delta dir without data files
    graft.ops.MergeOnRead.appendDelta(spark.range(0).select(
      col("id"), col("id").cast("string").as("etl_ingest_date")), s"$root/mor", "empty")
    same(s"$root/mor/empty/delta", "UNABLE_TO_INFER_SCHEMA")
    same(s"$root/mor/absent/delta", "PATH_NOT_FOUND")
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
}
