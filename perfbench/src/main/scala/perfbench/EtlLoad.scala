package perfbench

import java.nio.file.Files
import java.sql.{DriverManager, Timestamp}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.etl.{JdbcUpsert, Pipelines, Schemas, Transforms}
import graft.etl.expressions.PyEventsArray
import graft.etl.pgwire.PgWireDriver
import graft.operators.ReferenceQueries

/** etl_cdc_load: the reference's two DAGs over a generated CDC corpus
  * into a fresh PostgreSQL server.
  *
  * 1. Backfill: one DAG run per table over the first `backfill` files,
  *    into empty targets.
  * 2. Incremental: the remaining files arrive one by one; every third
  *    file triggers an events run and every fifth a tracking run (the
  *    reference's batch sizes), leftovers are flushed at the end. Each
  *    run is one `Pipelines.loadIncremental` call.
  * 3. After each phase the README queries (Q1, Q2 deterministic, Q3) run
  *    in PostgreSQL over the loaded tables.
  *
  * The traced run makes the same calls as `loadIncremental`, one by one
  * (watermark probe, pipeline, cache + count, upsert), with a span
  * around each.
  */
object EtlLoad {

  /** Fixed upload clock: the replay oracles use the same one. */
  val Clock: Option[Timestamp] = Some(Timestamp.valueOf("2023-09-05 00:00:00"))

  val Tables: Seq[String] = Seq("tracking", "events")
  val BatchFiles: Map[String, Int] = Map("events" -> 3, "tracking" -> 5)

  /** README queries as PostgreSQL text: Spark's backtick quoting becomes
    * the standard double quote, nothing else changes. */
  val ReadmeSql: Seq[(String, String)] = Seq(
    "q1" -> ReferenceQueries.q1Sql,
    "q2_deterministic" -> ReferenceQueries.q2DeterministicSql,
    "q3" -> ReferenceQueries.q3Sql).map { case (n, s) => n -> s.replace('`', '"') }

  /** Order-independent content hash of a table: row count and the sum of
    * a 48-bit prefix of each row's md5. Python computes the same figure
    * in DuckDB over the oracle's rows. */
  def hashSql(table: String, cols: Seq[String], timestamps: Set[String]): String = {
    val parts = cols.map { c =>
      val v = if (timestamps.contains(c))
        s"""(extract(epoch from "$c") * 1000000)::bigint::text""" else s""""$c""""
      s"coalesce($v, '~')"
    }
    s"""SELECT count(*)::text, coalesce(sum(('x' || substr(md5(concat_ws('|', ${parts.mkString(", ")})), 1, 12))::bit(48)::bigint), 0)::text FROM $table"""
  }

  val TableCols: Map[String, (Seq[String], Set[String])] = Map(
    "tracking" -> ((Schemas.trackingColumns ++ Schemas.auditColumns,
      Set("createdAt", "updatedAt", "lastSyncTracker", "uploadDate"))),
    "events" -> ((Schemas.eventsColumns ++ Schemas.auditColumns,
      Set("eventCreatedAt", "uploadDate"))))

  final case class RunRec(table: String, files: Int, seconds: Double,
      rows: Long, startMs: Long, endMs: Long)

  def run(spark: SparkSession, cfg: Config, tr: Tracer,
      ev: Option[SparkEvents]): Result = {
    PgWireDriver.ensureRegistered()
    val url = s"jdbc:postgresql://127.0.0.1:${cfg.pgPort}/postgres"
    val props = new Properties()
    props.setProperty("user", "postgres")
    props.setProperty("driver", classOf[PgWireDriver].getName)

    val corpus = cfg.corpusDir
    val manifest = Files.readAllLines(corpus.resolve("manifest.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    require(manifest.size > cfg.backfill,
      s"corpus at $corpus holds ${manifest.size} files; " +
        s"${cfg.backfill} backfill files and at least one more are needed")
    val paths = manifest.map { n =>
      val p = corpus.resolve(n)
      require(Files.isRegularFile(p) && Files.size(p) > 0, s"missing or empty input: $p")
      p.toString
    }
    val (backfill, incremental) = paths.splitAt(cfg.backfill)

    def sql[T](body: java.sql.Statement => T): T = {
      val c = DriverManager.getConnection(url, props)
      try { val st = c.createStatement(); try body(st) finally st.close() }
      finally c.close()
    }
    def rows(q: String): Seq[Seq[String]] = sql { st =>
      val rs = st.executeQuery(q)
      val n = rs.getMetaData.getColumnCount
      val out = mutable.ArrayBuffer[Seq[String]]()
      while (rs.next()) out += (1 to n).map(rs.getString)
      out.toSeq
    }
    def pgCounters(): Map[String, Double] = {
      val db = rows("SELECT tup_inserted, tup_deleted, xact_commit, " +
        "xact_rollback, blks_read FROM pg_stat_database " +
        "WHERE datname = current_database()").head.map(_.toDouble)
      val dead = rows("SELECT coalesce(sum(n_dead_tup), 0) FROM pg_stat_user_tables")
        .head.head.toDouble
      val wal = rows("SELECT pg_wal_lsn_diff(pg_current_wal_lsn(), '0/0')")
        .head.head.toDouble
      Map("pg.tup_inserted" -> db(0), "pg.tup_deleted" -> db(1),
        "pg.xact_commit" -> db(2), "pg.xact_rollback" -> db(3),
        "pg.blks_read" -> db(4), "pg.dead_tup" -> dead, "wal" -> wal)
    }

    val runs = mutable.ArrayBuffer[RunRec]()
    var runsFailed = 0
    var rowsOut = 0L
    val spansBySink = mutable.ArrayBuffer[(Long, Long)]()

    /** One DAG run. Untraced: `Pipelines.loadIncremental`. Traced: the
      * same calls, one span each. */
    def dag(table: String, files: Seq[String]): Unit = {
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val n = try {
        if (!tr.enabled)
          Pipelines.loadIncremental(spark, files, url, table, table, props, Clock)
        else tr("etl.dag") {
          val wm = tr("sink.watermark") {
            JdbcUpsert.lastUploadedFile(spark, url, table, props = props)
          }
          val df = tr("etl.pipeline") {
            if (table == "tracking") Pipelines.tracking(spark, files, wm, Clock)
            else Pipelines.events(spark, files, wm, Clock)
          }
          val cached = df.cache()
          try {
            val n = tr("etl.materialize")(cached.count())
            if (n > 0) {
              val u0 = System.currentTimeMillis()
              tr("sink.upsert")(JdbcUpsert.upsert(cached, url, table, "oid__id", props))
              spansBySink += ((u0, System.currentTimeMillis()))
            }
            n
          } finally { cached.unpersist(); () }
        }
      } catch {
        case e: Throwable =>
          runsFailed += 1
          throw e
      }
      rowsOut += n
      runs += RunRec(table, files.size, (System.nanoTime() - t0) / 1e9, n, m0,
        System.currentTimeMillis())
    }

    def readme(): (Double, Map[String, Seq[Seq[String]]]) = {
      val t0 = System.nanoTime()
      val res = tr("pg.readme") {
        ReadmeSql.map { case (n, q) => n -> rows(q) }.toMap
      }
      ((System.nanoTime() - t0) / 1e9, res)
    }
    def tableCount(t: String): Long = rows(s"SELECT count(*) FROM $t").head.head.toLong
    def hashes(): Map[String, Seq[String]] = TableCols.map { case (t, (cs, ts)) =>
      t -> rows(hashSql(t, cs, ts)).head
    }

    val pg0 = if (tr.enabled) pgCounters() else Map.empty[String, Double]
    val pgSettings = rows("SELECT name, setting FROM pg_settings WHERE name IN " +
      "('server_version', 'fsync', 'synchronous_commit', 'full_page_writes', " +
      "'shared_buffers', 'autovacuum', 'wal_level', 'max_wal_size')")
      .map(r => r(0) -> r(1)).toMap

    // ---- phase 1: backfill ---------------------------------------------
    val b0 = System.nanoTime()
    Tables.foreach(t => dag(t, backfill))
    val backfillS = (System.nanoTime() - b0) / 1e9
    val backfillRows = Tables.map(tableCount).sum
    val (report1, readme1) = readme()
    val hash1 = hashes()

    // ---- phase 2: incremental runs in the reference's batch sizes -------
    val pending = mutable.Map(Tables.map(_ -> mutable.ArrayBuffer[String]()): _*)
    val incStart = runs.size
    incremental.foreach { f =>
      Tables.foreach { t =>
        pending(t) += f
        if (pending(t).size == BatchFiles(t)) { dag(t, pending(t).toSeq); pending(t).clear() }
      }
    }
    Tables.foreach(t => if (pending(t).nonEmpty) dag(t, pending(t).toSeq))
    val incRuns = runs.drop(incStart).toSeq
    val (report2, readme2) = readme()
    val rssMb = Util.peakRssMb()
    val hash2 = hashes()
    val finalRows = Tables.map(tableCount).sum

    val lat = incRuns.map(_.seconds)
    val layers = mutable.LinkedHashMap[String, Double]()
    ev.foreach { e =>
      e.drain(spark)
      val first = runs.head.startMs
      val last = runs.last.endMs
      val wall = runs.map(_.seconds).sum
      val all = e.window(first, last)
      all.sparkMetrics(wall, cfg.cores).foreach(layers += _)
      layers += "spark.jobs_per_run" -> all.jobs.toDouble / runs.size
      layers += "plan.s" -> all.planS
      layers += "exec.s" -> (wall - all.planS)
      val sum = tr.summary
      def total(n: String) = sum.get(n).map(_._1).getOrElse(0.0)
      val staging = spansBySink.map { case (a, b) => e.window(a, b).jobS }.sum
      layers += "sink.watermark_s" -> total("sink.watermark")
      layers += "sink.upsert_s" -> total("sink.upsert")
      layers += "sink.staging_write_s" -> staging
      layers += "sink.promotion_s" -> (total("sink.upsert") - staging)
      layers += "sink.runs" -> runs.size.toDouble
      layers += "sink.runs_failed" -> runsFailed.toDouble
      val pg1 = pgCounters()
      pg1.foreach { case (k, v) =>
        if (k == "pg.dead_tup") layers += k -> v
        else if (k != "wal") layers += k -> (v - pg0(k))
      }
      layers += "pg.wal_bytes_per_row" -> (pg1("wal") - pg0("wal")) / math.max(1L, rowsOut)
      layers += "pg.report_s" -> (report1 + report2)
      layers ++= prefixTimes(spark, backfill)
      layers += "expr.PyEventsArray.rows_per_s" -> parseRate(spark, backfill)
      layers += "etl.rows_in" -> spark.read.schema(Schemas.source)
        .option("header", "true").csv(paths: _*).count().toDouble
      layers += "etl.rows_out" -> rowsOut.toDouble
    }

    val byTable = incRuns.groupBy(_.table).map { case (t, rs) =>
      t -> Map("runs" -> rs.size, "p50_s" -> Util.median(rs.map(_.seconds)))
    }
    Result(
      attempted = runs.size + 2 * ReadmeSql.size,
      failed = runsFailed,
      e2e = Map(
        "pass_s" -> backfillS,
        "op_mean_s" -> lat.sum / lat.size,
          "peak_rss_mb" -> rssMb),
      detail = Map(
        "etl_backfill_rows_per_s" -> backfillRows / backfillS,
        "etl_batch_p50_s" -> Util.percentile(lat, 50),
        "etl_batch_p75_s" -> Util.percentile(lat, 75),
        "etl_batch_p90_s" -> Util.percentile(lat, 90),
        "etl_report_s" -> (report1 + report2),
        "backfill_s" -> backfillS,
        "backfill_rows" -> backfillRows,
        "final_rows" -> finalRows,
        "backfill_files" -> backfill.size,
        "incremental_files" -> incremental.size,
        "incremental_runs" -> incRuns.size,
        "incremental_by_table" -> byTable,
        "postgres_settings" -> pgSettings),
      layers = layers.toMap,
      etlCheck = Map(
        "files" -> manifest,
        "backfill" -> cfg.backfill,
        "batch_files" -> BatchFiles,
        "readme_sql" -> ReadmeSql.toMap,
        "hash_cols" -> TableCols.map { case (t, (cs, ts)) =>
          t -> Map("cols" -> cs, "timestamps" -> ts.toSeq.sorted) },
        "phase1" -> Map("readme" -> readme1, "hash" -> hash1),
        "phase2" -> Map("readme" -> readme2, "hash" -> hash2)))
  }

  /** etl.{scan,parse,explode,dedup}_s: differences between materialized
    * prefixes of the public Transforms chain over the backfill files. */
  private def prefixTimes(spark: SparkSession, files: Seq[String]): Seq[(String, Double)] = {
    def time(df: => DataFrame): Double = Util.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
    def raw = Transforms.addFileName(spark.read.schema(Schemas.source)
      .option("header", "true").csv(files: _*))
    def parsed = Transforms.parseEventArray(raw)
    def exploded = Transforms.normalizeNulls(Transforms.project(Schemas.eventsColumns)(
      Transforms.withUploadDate(Clock)(Transforms.explodeEvents(parsed))))
    def trackingRows = Transforms.normalizeNulls(Transforms.project(Schemas.trackingColumns)(
      Transforms.withUploadDate(Clock)(Transforms.epochSecondsToTs(
        raw.drop("array_trackingEvents")))))
    val scan = time(raw)
    val parse = time(parsed)
    val explode = time(exploded)
    val distinct = time(Transforms.distinctRows(exploded))
    val tScan = time(trackingRows)
    val keepLast = time(Transforms.dedupKeepLast(trackingRows))
    Seq("etl.scan_s" -> scan,
      "etl.parse_s" -> (parse - scan),
      "etl.explode_s" -> (explode - parse),
      "etl.dedup_s" -> ((distinct - explode) + (keepLast - tScan)))
  }

  /** rows/s of the literal parser through its public column function,
    * over the backfill files' event arrays cached in memory. */
  private def parseRate(spark: SparkSession, files: Seq[String]): Double = {
    val arrays = spark.read.schema(Schemas.source).option("header", "true")
      .csv(files: _*).select(col("array_trackingEvents")).cache()
    val n = arrays.count().toDouble
    val secs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      arrays.select(PyEventsArray.pyEvents(col("array_trackingEvents")))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    arrays.unpersist()
    n / Util.median(secs)
  }
}
