package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.entities.{Pipelines, Specs}
import graft.ingest.Staging
import graft.jobs.ProcessDaily
import graft.ops.MergeOnRead

/** The benchmark's JVM side: one closed-loop client driving the engine
  * through its public entry points, one operation in flight at a time.
  * Writes a JSON result file that `perfbench/run.py` turns into metrics
  * and checks. See perfbench/README.md. */
object Main {

  val WarehouseQueries: Seq[String] = Seq(
    "q1_agg", "q2_filter_pred", "q3_join_inner", "q4_join_anti", "q5_join_semi",
    "q6_join_fanout", "q7_window_latest", "q8_window_topk", "q9_window_running",
    "q10_window_lag", "q11_distinct", "q12_union", "q13_map_agg", "q14_explode",
    "q15_scalar_funcs", "q16_group_multikey", "q28_json_extract", "q33_rollup",
    "q34_pivot", "q35_percentile", "q36_stats", "q52_cube", "q53_set_ops",
    "q54_date_funcs", "q55_array_hof", "q56_argmax", "q57_url_funcs", "q58_listagg",
    "q59_regr", "q66_map_funcs", "q67_bitwise_cond", "q72_rolling_range",
    "q75_full_outer", "q76_rank_family", "q78_value_funcs",
    "q254_pricing_summary", "q255_local_supplier_volume", "q256_market_share",
    "q257_product_profit", "q258_delay_priority", "q259_order_count_dist",
    "q260_top_supplier", "q261_part_supplier_counts", "q262_waiting_suppliers")

  val IterativeQueries: Seq[String] = Seq(
    "q87_pagerank", "q184_ppr", "q188_hits", "q183_label_prop", "q187_modularity",
    "q96_bfs", "q197_weighted_paths", "q168_entity_resolution", "q42_dedup_groups",
    "q266_bpe_encode")

  /** One timed operation. */
  final case class Op(kind: String, name: String, round: Int, wallS: Double,
      ok: Boolean, error: String)

  final class Recorder {
    val ops = mutable.ArrayBuffer.empty[Op]
    var warmAttempted = 0
    var warmFailed = 0
    val warmErrors = mutable.ArrayBuffer.empty[String]

    /** Run `f` as operation `name`. Round < 0 is warm-up: untimed, but a
      * failure still counts. A non-fatal exception fails the operation and
      * its wall is still recorded; a fatal one ends the run. */
    def op[T](kind: String, name: String, round: Int)(f: => T): Option[T] = {
      val t0 = System.nanoTime()
      val r = try Right(f) catch { case NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      r.left.foreach(e => System.err.println(s"[perfbench] $kind $name failed: $e"))
      if (round < 0) synchronized {
        warmAttempted += 1
        r.left.foreach { e => warmFailed += 1; warmErrors += s"$name: $e" }
      } else synchronized {
        ops += Op(kind, name, round, wall, r.isRight, r.left.toOption.fold("")(_.toString))
      }
      r.toOption
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cores = opts("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the engine's standard session (graft.core.Sessions.local) with every
      // scratch directory inside this run's root
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val exit = try {
      val tracer = new Tracer(spark, traced, s"$workload-${opts("seed")}")
      if (traced) graft.core.CodegenWatch.install()
      val rec = new Recorder
      val body = tracer.span(s"workload:$workload") {
        workload match {
          case "crawl_daily" =>
            new Crawl(spark, tracer, rec, opts("data"), work, opts("days").toInt, seconds).run()
          case "warehouse_queries" =>
            new Queries(spark, tracer, rec, opts("data"), work, WarehouseQueries, seconds).run()
          case "iterative_ops" =>
            new Queries(spark, tracer, rec, opts("data"), work, IterativeQueries, seconds).run()
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
      }
      tracer.drain()
      opts.get("spans").filter(_ => traced).foreach { p =>
        Files.write(Paths.get(p), tracer.spansJson.asJava)
      }
      val layers = tracer.layerTable.map { case (n, calls, total, self) =>
        Map("name" -> n, "calls" -> calls, "total_s" -> total, "self_s" -> self)
      }
      val result = Map(
        "workload" -> workload,
        "setup_done_ms" -> body("setup_done_ms"),
        "peak_rss_mb" -> peakRssMb(),
        "warmup_attempted" -> rec.warmAttempted,
        "warmup_failed" -> rec.warmFailed,
        "warmup_errors" -> rec.warmErrors.toSeq,
        "ops" -> rec.ops.toSeq.map(o => Map(
          "kind" -> o.kind, "name" -> o.name, "round" -> o.round, "wall_s" -> o.wallS,
          "ok" -> o.ok, "error" -> o.error)),
        "layers" -> layers,
        "detail" -> (body - "setup_done_ms"))
      Files.writeString(Paths.get(opts("out")), Json.render(result))
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        3
    }
    try spark.stop() catch { case NonFatal(_) => () }
    System.exit(exit)
  }

  /** `f` over `xs`, `threads` at a time; results in input order. Used
    * only outside the timed region (warm-up, writing results). */
  def parallel[A, B](threads: Int, xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      .map(_.get())
    finally pool.shutdown()
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** Data files (not hidden, not markers) and their bytes below `dir`. */
  def fileStats(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      val it = fs.listFiles(p, true)
      var n, bytes = 0L
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toUri.getPath.stripPrefix(p.toUri.getPath)
        val visible = !rel.split("/").exists(s => s.startsWith(".") || s.startsWith("_"))
        if (visible) { n += 1; bytes += st.getLen }
      }
      (n, bytes)
    }
  }

  // -- order-independent table digests ---------------------------------------

  def canon(v: Any): String = v match {
    case null => "NULL"
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Canonical rows of a collected table, columns sorted by name. */
  final case class Rows(columns: Seq[String], lines: Seq[String]) {
    def digest: (Int, Long) = {
      val h = lines.foldLeft(0L) { (acc, l) =>
        val a = scala.util.hashing.MurmurHash3.stringHash(l, 17)
        val b = scala.util.hashing.MurmurHash3.stringHash(l, 31)
        acc + ((a.toLong << 32) | (b & 0xffffffffL))
      }
      (lines.size, h)
    }
  }

  def rows(schema: StructType, data: Array[Row], drop: Set[String] = Set.empty): Rows = {
    val cols = schema.fieldNames.toSeq.filterNot(drop).sorted
    val idx = cols.map(schema.fieldIndex)
    Rows(cols, data.toSeq.map(r => idx.map(i => canon(r.get(i))).mkString("|")))
  }
}

/** The `crawl_daily` workload: land consecutive crawl days through staging
  * and the full-rewrite merge, read every curated table back, run the
  * merge-on-read path on the same staged day and read every view, then
  * compact. Day 0 is the untimed warm-up. */
final class Crawl(spark: SparkSession, tracer: Tracer, rec: Main.Recorder,
    raw: String, work: String, maxDays: Int, seconds: Double) {
  import Main._

  private val staging = s"$work/staging"
  private val curated = s"$work/curated"
  private val mor = s"$work/mor"
  private val firstDay = java.time.LocalDate.parse("2024-03-01")

  val tables: Seq[String] =
    (Specs.snapshots.map(_.table) ++ Seq(Specs.repo.snapshot.table, Specs.repo.logTable) ++
      Specs.arrayChildren.map(_.table) ++ Specs.collections.map(_.table) ++
      Specs.traffic.map(_.table)).sorted

  /** Latest-wins MOR tables and their compaction keys. Repo compacts at
    * (key, version) grain because the RepoLog view reads the same store at
    * that grain; the Repo view still resolves latest per key. Collections
    * are not compacted: `MergeOnRead.compact` resolves per key, which is
    * not the latest-day-wins-per-origin rule their views use. */
  private val compactable: Seq[(String, Seq[String], Seq[org.apache.spark.sql.Column])] =
    Specs.snapshots.map(s => (s.table, Seq("etl_source_id"), Pipelines.mergeOrder)) ++
    Seq((Specs.repo.snapshot.table, Seq("etl_source_id", Specs.repo.versionField),
      Pipelines.mergeOrder)) ++
    Specs.arrayChildren.map(s =>
      (s.table, Seq("etl_source_id", "element_index"), Pipelines.mergeOrder)) ++
    Specs.traffic.map(s => (s.table, s.dedupKeys, Pipelines.trafficOrder(s)))

  private val collectionTables = Specs.collections.map(_.table).toSet

  /** Tables whose merge-on-read store holds data. `morView` has no schema
    * for an entity that never had a row (it throws), so the views of the
    * other tables are not read; their rewritten tables must be empty. */
  private def morTables: Seq[String] = tables.filter { t =>
    val dir = if (t == Specs.repo.logTable) Specs.repo.snapshot.table else t
    MergeOnRead.pendingDeltaDays(spark, mor, dir).nonEmpty
  }

  /** Read `names` in full, one operation each. The warm-up reads them
    * `cores` at a time; timed reads run one at a time. */
  private def readAll(kind: String, round: Int, names: Seq[String], read: String => DataFrame)
      : Map[String, (StructType, Array[Row])] = {
    def one(t: String) = rec.op(kind, t, round) {
      val df = read(t)
      (df.schema, df.collect())
    }.map(t -> _)
    if (round >= 0) names.flatMap(one).toMap
    else {
      parallel(spark.sparkContext.defaultParallelism, names)(one).flatten.toMap
    }
  }

  /** The warm-up day records no spans: it overlaps two calls, and spans
    * nest one operation at a time. */
  private def span[T](round: Int, name: String)(f: => T): T =
    if (round < 0) f else tracer.span(name)(f)

  private def readCurated(round: Int) = span(round, "core.store.read")(
    readAll("read", round, tables, t => spark.read.parquet(s"$curated/$t")))

  private def morDay(ds: String, round: Int) = {
    rec.op("mor_day", ds, round) {
      span(round, "ops.merge_on_read.append")(ProcessDaily.runMor(spark, staging, mor, ds))
    }
    span(round, "ops.merge_on_read.read")(
      readAll("mor_read", round, morTables, t => ProcessDaily.morView(spark, mor, t)))
  }

  /** One ingest day; returns the collected tables (rewritten, MOR). The
    * untimed warm-up day (round < 0) overlaps the rewritten-table reads
    * with the merge-on-read path; they share only the staged day. */
  private def day(d: Int, round: Int) = {
    val date = firstDay.plusDays(d)
    val ds = date.toString
    span(round, s"day:$ds") {
      rec.op("land", ds, round) {
        span(round, "ingest.stage")(Staging.stageDay(spark, raw, staging, date))
        span(round, "jobs.process_daily")(ProcessDaily.run(spark, staging, curated, ds))
      }
      if (round >= 0) {
        val rewritten = readCurated(round)
        (rewritten, morDay(ds, round))
      } else {
        val both = parallel(2, Seq(() => readCurated(round), () => morDay(ds, round)))(_())
        (both(0), both(1))
      }
    }
  }

  /** Per-layer numbers of the day just landed (traced runs only). */
  private def dayLayers(ds: String): Map[String, Double] = {
    tracer.drain()
    val out = mutable.Map.empty[String, Double]
    for (s <- tracer.last("ingest.stage")) {
      val (files, bytes) = fileStats(spark, s"$staging/ingest_date=$ds")
      out ++= Seq("ingest.stage_s" -> s.wallS, "ingest.bytes_read" -> s.counters("input_bytes"),
        "ingest.bytes_written" -> bytes.toDouble, "ingest.files_written" -> files.toDouble,
        "ingest.rows_staged" -> s.counters("output_records"))
    }
    for (s <- tracer.last("jobs.process_daily")) {
      val (files, bytes) = fileStats(spark, curated)
      val p = "jobs.process_daily"
      out ++= Seq("wall_s" -> s.wallS, "jobs" -> s.counters("jobs"), "stages" -> s.counters("stages"),
        "tasks" -> s.counters("tasks"), "task_s" -> s.counters("task_s"), "gc_s" -> s.counters("gc_s"),
        "idle_s" -> s.idleS, "shuffle_bytes" -> s.counters("shuffle_bytes"),
        "spill_bytes" -> s.counters("spill_bytes"), "bytes_written" -> s.counters("output_bytes"),
        "files_written" -> files.toDouble).map { case (k, v) => s"$p.$k" -> v }
      val staged = out.getOrElse("ingest.bytes_written", 0.0)
      out(s"$p.write_amp") = if (staged > 0) s.counters("output_bytes") / staged else 0.0
      out("core.store.curated_bytes") = bytes.toDouble
      out("core.store.curated_files") = files.toDouble
    }
    val append = tracer.last("ops.merge_on_read.append")
    val read = tracer.last("ops.merge_on_read.read")
    for (a <- append; r <- read) {
      val p = "ops.merge_on_read"
      out ++= Seq("append_s" -> a.wallS, "read_s" -> r.wallS,
        "jobs" -> (a.counters("jobs") + r.counters("jobs")),
        "idle_s" -> (a.idleS + r.idleS),
        "delta_files" -> tables.map(t => fileStats(spark, s"$mor/$t/delta")._1).sum.toDouble)
        .map { case (k, v) => s"$p.$k" -> v }
    }
    for (r <- tracer.last("core.store.read")) out("core.store.read_s") = r.wallS
    out.toMap
  }

  def run(): Map[String, Any] = {
    var last = day(0, -1)
    val setupDone = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val dayLayerRows = mutable.ArrayBuffer.empty[Map[String, Any]]
    var d = 1
    while (d < maxDays && (d == 1 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      last = day(d, d)
      if (tracer.enabled)
        dayLayerRows += Map("day" -> d, "metrics" -> dayLayers(firstDay.plusDays(d).toString))
      d += 1
    }
    val days = d - 1
    rec.op("compact", "all", days) {
      tracer.span("ops.merge_on_read.compact") {
        compactable.foreach { case (t, keys, order) => MergeOnRead.compact(spark, mor, t, keys, order) }
      }
    }
    val compactLayers: Map[String, Double] = if (!tracer.enabled) Map.empty else {
      tracer.drain()
      tracer.last("ops.merge_on_read.compact").map(s => Map(
        "ops.merge_on_read.compact_s" -> s.wallS,
        "ops.merge_on_read.bytes_rewritten" -> s.counters("output_bytes"))).getOrElse(Map.empty)
    }

    // -- checks (untimed) -------------------------------------------------
    val lastDs = firstDay.plusDays(days).toString
    val (rewritten, views) = last
    val checks = parallel(spark.sparkContext.defaultParallelism, tables) { t =>
      val rw = rewritten.get(t).map { case (s, r) => rows(s, r) }
      val drop = if (collectionTables(t)) Set("etl_ingest_date") else Set.empty[String]
      val mv = views.get(t).map { case (s, r) => rows(s, r, drop) }
      val agree = (rw, mv) match {
        case (Some(a), Some(b)) if t == Specs.commitParent.table =>
          // the rewritten CommitParent keeps every day's copy (no TRUNCATE);
          // the view is its latest-wins subset
          val have = a.lines.toSet
          a.columns == b.columns && b.lines.forall(have)
        case (Some(a), Some(b)) => a.columns == b.columns && a.digest == b.digest
        case (Some(a), None) => a.lines.isEmpty // no merge-on-read data, no rows
        case _ => false
      }
      // compaction must not change what a view returns
      val compacted = compactable.exists(_._1 == t) || t == Specs.repo.logTable
      val afterCompact = mv.forall { before =>
        !compacted || (try {
          val df = ProcessDaily.morView(spark, mor, t)
          rows(df.schema, df.collect(), drop).digest == before.digest
        } catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] view $t after compaction: $e"); false })
      }
      t -> Map("rows" -> rw.map(_.lines.size).getOrElse(-1),
        "mor_rows" -> mv.map(_.lines.size).getOrElse(0),
        "mor_agrees" -> agree, "compact_agrees" -> afterCompact)
    }.toMap
    val stagedRows =
      try Staging.readStaging(spark, staging, lastDs).count()
      catch { case NonFatal(_) => -1L }
    Map("setup_done_ms" -> setupDone, "days" -> days, "tables" -> checks,
      "staged_rows_last_day" -> stagedRows, "day_layers" -> dayLayerRows.toSeq,
      "compact_layers" -> compactLayers)
  }
}

/** The query workloads: every registry query in `names`, swept in a fixed
  * order until `seconds` have passed (at least one sweep) after one
  * concurrent warm-up sweep. Wall = frame construction + final action
  * (`collect`). The last result of each query is written out for the
  * DuckDB oracle check. */
final class Queries(spark: SparkSession, tracer: Tracer, rec: Main.Recorder,
    dir: String, work: String, names: Seq[String], seconds: Double) {
  import Main._

  private val fns = names.map { n =>
    n -> graft.SparkEntry.queries.getOrElse(n, (_: SparkSession, _: String) =>
      throw new NoSuchElementException(s"$n is not in SparkEntry.queries"))
  }

  def run(): Map[String, Any] = {
    // warm-up: each query once, `cores` at a time (JIT and codegen caches)
    parallel(spark.sparkContext.defaultParallelism, fns) { case (n, fn) =>
      rec.op("query", n, -1)(fn(spark, dir).collect())
    }
    val setupDone = System.currentTimeMillis()

    val lastRows = mutable.Map.empty[String, (StructType, Array[Row])]
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var sweep = 0
    while (sweep == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      fns.foreach { case (n, fn) =>
        val fallbacks0 = if (tracer.enabled) graft.core.CodegenWatch.fallbacks() else 0L
        val res = tracer.span(s"query:$n") {
          rec.op("query", n, sweep) {
            val df = tracer.span("queries.frame")(fn(spark, dir))
            (df, tracer.span("queries.exec")(df.collect()))
          }
        }
        res.foreach { case (df, rows) =>
          lastRows(n) = (df.schema, rows)
          if (tracer.enabled) {
            tracer.drain()
            val census = PlanCensus(df.queryExecution.executedPlan)
            samples += Map("query" -> n, "sweep" -> sweep, "metrics" ->
              queryLayers(census, graft.core.CodegenWatch.fallbacks() - fallbacks0))
          }
        }
      }
      sweep += 1
    }

    // -- outputs for the oracle check (untimed) ---------------------------
    Files.createDirectories(Paths.get(s"$work/out"))
    parallel(spark.sparkContext.defaultParallelism, lastRows.toSeq) { case (n, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/out/$n")
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$work/out/oracle_sql.json"), Json.render(oracles))
    Map("setup_done_ms" -> setupDone, "sweeps" -> sweep, "queries" -> names,
      "samples" -> samples.toSeq)
  }

  private def queryLayers(census: Map[String, Double], fallbacks: Long): Map[String, Double] = {
    val frame = tracer.last("queries.frame").get
    val exec = tracer.last("queries.exec").get
    def both(k: String) = frame.counters(k) + exec.counters(k)
    Map(
      "queries.frame_s" -> frame.wallS, "queries.frame_jobs" -> frame.counters("jobs"),
      "queries.plan_s" -> both("plan_s"), "queries.exec_s" -> exec.wallS,
      "queries.jobs" -> both("jobs"), "queries.stages" -> both("stages"),
      "queries.tasks" -> both("tasks"), "queries.task_s" -> both("task_s"),
      "queries.gc_s" -> both("gc_s"), "queries.idle_s" -> (frame.idleS + exec.idleS),
      "queries.shuffle_bytes" -> both("shuffle_bytes"),
      "queries.spill_bytes" -> both("spill_bytes"),
      "plans.codegen_fallbacks" -> fallbacks.toDouble) ++
      census.map { case (k, v) => s"plans.$k" -> v }
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
