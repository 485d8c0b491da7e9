package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract integrity — no Spark session needed. Guards against
  * the silent drift modes the correctness gate can't see: a query
  * registered without an oracle (driver downgrades it to a weaker
  * rows-only check) or an oracle naming a query that no longer exists
  * (dead SQL nobody runs). */
class ContractSpec extends AnyFunSuite {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q diff o).isEmpty,
      s"queries missing oracles (weaker rows-only gate): ${(q diff o).toSeq.sorted}")
    assert((o diff q).isEmpty,
      s"orphan oracles: ${(o diff q).toSeq.sorted}")
  }

  test("query names are unique across modules (no map-merge shadowing)") {
    val maps = Seq(
      graft.queries.Relational.defs, graft.queries.Training.defs,
      graft.queries.StreamingQueries.defs, graft.queries.Advanced.defs,
      graft.queries.Lifecycle.defs, graft.queries.Corpus.defs,
      graft.queries.Graphs.defs, graft.queries.Analytics.defs,
      graft.queries.Mining.defs, graft.queries.TpchShapes.defs)
    val all = maps.flatMap(_.keys)
    val dupes = all.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate query names across modules: $dupes")
    assert(all.size == SparkEntry.queries.size)
  }

  test("oracle SQL only references driver-provided tables") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // every FROM/JOIN target must be a known table or a CTE defined in
    // the same statement — catches typos before the driver does
    // \b so `valid_from AND …` (a column ending in _from) never matches
    val fromRe = "(?is)\\b(?:FROM|JOIN)\\s+([A-Za-z_][A-Za-z0-9_]*)".r
    // allow the recursive-CTE column list form: walk(node, dist) AS (
    // and DuckDB's `name AS MATERIALIZED (`
    val cteRe =
      ("(?is)([A-Za-z_][A-Za-z0-9_]*)\\s*(?:\\([^)]*\\))?\\s+AS\\s*" +
        "(?:MATERIALIZED\\s*)?\\(").r
    SparkEntry.oracleSql.foreach { case (name, sql0) =>
      // `x IS [NOT] DISTINCT FROM y` is a predicate, not a table ref
      val sql = sql0.replaceAll("(?i)IS\\s+(NOT\\s+)?DISTINCT\\s+FROM", "≡")
      val ctes = cteRe.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val refs = fromRe.findAllMatchIn(sql).map(_.group(1).toLowerCase)
        .filterNot(Set("unnest", "lateral", "generate_series")).toSet
      val unknown = refs -- tables -- ctes
      assert(unknown.isEmpty, s"$name references unknown tables: $unknown")
    }
  }

  test("SURVEY.md coverage rows name real queries; README count is honest") {
    val qs = SparkEntry.queries.keySet
    val nums = qs.map(_.drop(1).takeWhile(_.isDigit)).filter(_.nonEmpty)
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    // every "→ qNNN" claim in the coverage map must be a registered query
    val claimed = "(?<=→ q)(\\d+)".r.findAllIn(survey).toSet
    val dead = claimed -- nums
    assert(dead.isEmpty, s"SURVEY.md claims unregistered queries: q$dead")
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    "(\\d+) named queries".r.findFirstMatchIn(readme).foreach { m =>
      assert(m.group(1).toInt == qs.size,
        s"README claims ${m.group(1)} queries; registry has ${qs.size}")
    }
  }

  test("queries read corpus files only through Tables (no per-read schema job)") {
    // spark.read.parquet on a corpus file infers its schema in a Spark
    // job of its own; Tables.table/schemaOf read the footer on the driver.
    // A call is flagged when its argument names a `.parquet` path, inline
    // or through a `val` bound to one in the same file.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under $root")
    val call = "read\\.parquet\\(([^)]*)\\)".r
    val pathVal = "val\\s+(\\w+)\\s*=\\s*s?\"[^\"]*\\.parquet\"".r
    val offenders = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      val corpusVals = pathVal.findAllMatchIn(src).map(_.group(1)).toSet
      call.findAllMatchIn(src).collect {
        case m if m.group(1).contains(".parquet\"") ||
            corpusVals(m.group(1).trim) =>
          val line = src.substring(0, m.start).count(_ == '\n') + 1
          s"${f.getFileName}:$line: ${m.matched}"
      }
    }
    assert(offenders.isEmpty,
      s"read corpus tables via Tables.table / Tables.schemaOf: $offenders")
  }

  test("the ETL reads its tables through Tables (no per-read schema job)") {
    // a raw spark.read.parquet on a staging, curated or merge-on-read dir
    // infers its schema in a Spark job; Tables.parquet reads the footer on
    // the driver
    val files = Seq("entities/Pipelines.scala", "ingest/Staging.scala",
      "ops/MergeOnRead.scala", "jobs/ProcessDaily.scala")
      .map(f => java.nio.file.Paths.get(s"src/main/scala/graft/$f"))
    val call = "spark\\.read\\.parquet\\(".r
    val offenders = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      call.findAllMatchIn(src).map { m =>
        s"${f.getFileName}:${src.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
    assert(offenders.isEmpty, s"read ETL tables via Tables.parquet: $offenders")
  }
}
