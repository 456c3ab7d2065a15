package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators._

/** query_surface: the operator queries registered by the engine's nine
  * operator modules over the sf0.1 tables, each materialized in full
  * through Spark's `noop` sink (a `count()` would let Catalyst prune
  * projected columns).
  *
  * A full pass over the 237 queries takes minutes, far longer than one
  * benchmark run, so the workload runs a fixed subset chosen by name
  * only: the first query, by name, of every module. The rule never looks
  * at speed and keeps every module represented: Relational, Analytics,
  * Extended, Advanced, Cdc, SqlSurface and Multimodal (short join,
  * aggregate and window plans, no session memos), DataOps and Graph
  * (session memos, driver-local iterative lanes, codegen kernels). The
  * first query of every DataOps family as well (17 queries) made a run
  * too long for the benchmark's total time budget.
  *
  * Queries run in name order. In a cold JVM a query pays more the earlier
  * it runs (JIT): with a seeded order x01 took 10 to 19 s and g01 4 to
  * 9.5 s depending on their position, and one pass spread 18% between
  * seeds. A fixed order bills each shared memo build to the same first
  * consumer on every run.
  */
object QueryLoad {

  type Query = (SparkSession, String) => DataFrame

  final case class Q(name: String, module: String, family: String, fn: Query)

  val modules: Seq[(String, Map[String, Query], Map[String, String])] = Seq(
    ("Relational", Relational.queries, Relational.oracleSql),
    ("Analytics", Analytics.queries, Analytics.oracleSql),
    ("Extended", Extended.queries, Extended.oracleSql),
    ("Advanced", Advanced.queries, Advanced.oracleSql),
    ("Cdc", Cdc.queries, Cdc.oracleSql),
    ("SqlSurface", SqlSurface.queries, SqlSurface.oracleSql),
    ("Multimodal", Multimodal.queries, Multimodal.oracleSql),
    ("DataOps", DataOps.queries, DataOps.oracleSql),
    ("Graph", Graph.queries, Graph.oracleSql))

  /** Registered queries no query workload runs, with the reason. */
  val excluded: Map[String, String] =
    (EtlQueries.queries.keys ++ ReferenceQueries.queries.keys).map { n =>
      n -> ("reads the CDC corpus, which is absent; etl_cdc_load measures " +
        "this code path on a generated corpus" +
        (if (n == "etl_events_replay_staged")
          "; its staged parquet keeps a _SUCCESS marker from an earlier " +
            "run, so it would report stale output as fresh" else ""))
    }.toMap

  /** DataOps name prefixes → the family each prefix names. */
  val families: Map[String, String] = Map("t" -> "text", "s" -> "ann",
    "e" -> "embed", "d" -> "dedup", "x" -> "pipeline", "c" -> "contam",
    "sk" -> "sketch", "o" -> "observe", "p" -> "pack")

  def family(module: String, name: String): String =
    if (module != "DataOps") ""
    else families.getOrElse(name.takeWhile(_.isLetter),
      sys.error(s"DataOps query $name has no known family prefix"))

  /** The first query by name of every module. */
  def subset: Seq[Q] = {
    val assigned = modules.flatMap(_._2.keys).toSet ++ excluded.keys
    val unassigned = SparkEntry.queries.keySet -- assigned
    require(unassigned.isEmpty,
      s"registered queries in no module: ${unassigned.mkString(", ")}")
    modules.map { case (module, qs, _) =>
      val n = qs.keys.min
      Q(n, module, family(module, n), qs(n))
    }
  }

  val CheckSlots = 3

  def oracle(name: String): Option[String] =
    modules.iterator.flatMap(_._3.get(name)).nextOption()

  final case class Sample(q: Q, seconds: Double,
      startMs: Long, endMs: Long, ok: Boolean)

  def run(spark: SparkSession, cfg: Config, tr: Tracer,
      ev: Option[SparkEvents]): Result = {
    val qs = subset
    val samples = mutable.ArrayBuffer[Sample]()
    val passWalls = mutable.ArrayBuffer[Double]()
    val errors = mutable.LinkedHashMap[String, String]()
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < cfg.seconds) {
      // outside the timed pass: every pass rebuilds the shared relations
      DataOps.evictSessionMemos()
      System.gc()
      val order = qs.sortBy(_.name)
      val p0 = System.nanoTime()
      order.foreach { q =>
        val s0 = System.nanoTime()
        val m0 = System.currentTimeMillis()
        val ok = try {
          tr(s"ops.${q.module}") {
            q.fn(spark, cfg.dataDir).write.format("noop")
              .mode("overwrite").save()
          }
          true
        } catch {
          case e: Throwable =>
            errors.getOrElseUpdate(q.name, e.toString.take(300)); false
        }
        samples += Sample(q, (System.nanoTime() - s0) / 1e9, m0,
          System.currentTimeMillis(), ok)
      }
      passWalls += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    val rssMb = Util.peakRssMb()
    val lat = samples.filter(_.ok).map(_.seconds).toSeq
    val attempted = samples.size
    val failed = samples.count(!_.ok)

    val layers = mutable.LinkedHashMap[String, Double]()
    var perQuery = Map.empty[String, Map[String, Double]]
    ev.foreach { e =>
      e.drain(spark)
      val first = samples.head.startMs
      val last = samples.last.endMs
      val wall = passWalls.sum
      val all = e.window(first, last)
      all.sparkMetrics(wall, cfg.cores).foreach(layers += _)
      layers += "plan.s" -> all.planS
      layers += "exec.s" -> (lat.sum - all.planS)
      // per module and family
      samples.groupBy(_.q.module).toSeq.sortBy(_._1).foreach { case (m, ss) =>
        layers += s"ops.$m.s" -> ss.map(_.seconds).sum
      }
      samples.filter(_.q.module == "DataOps").groupBy(_.q.family).toSeq
        .sortBy(_._1).foreach { case (f, ss) =>
          layers += s"ops.DataOps.$f.s" -> ss.map(_.seconds).sum
        }
      // per query: the spark.* figures of its own interval
      perQuery = samples.groupBy(_.q.name).toSeq.sortBy(_._1).map {
        case (n, ss) =>
          val c = ss.map(s => e.window(s.startMs, s.endMs))
          n -> Map("s" -> Util.median(ss.map(_.seconds).toSeq),
            "plan_s" -> c.map(_.planS).sum / c.size,
            "jobs" -> c.map(_.jobs).sum.toDouble / c.size,
            "tasks" -> c.map(_.tasks).sum.toDouble / c.size,
            "task_s" -> c.map(_.taskS).sum / c.size,
            "shuffle_bytes" ->
              c.map(x => x.shuffleRead + x.shuffleWrite).sum.toDouble / c.size)
      }.toMap
      layers ++= exprRates(spark, cfg)
    }

    // Correctness dump, outside the timed region: the queries with an
    // oracle row write their full output once more (memos still warm).
    // Each run checks one of `CheckSlots` slices of them, chosen by the
    // seed, so ten seeds check every query several times.
    val dumpDir = cfg.outDir.resolve("dump")
    val d0 = System.nanoTime()
    val dumpTimes = mutable.LinkedHashMap[String, Double]()
    val oracled = qs.filter(q => oracle(q.name).isDefined).sortBy(_.name)
    val slice = oracled.zipWithIndex.collect {
      case (q, i) if i % CheckSlots == math.floorMod(cfg.seed, CheckSlots) => q }
    val checks = slice.flatMap { q =>
      oracle(q.name).map { sql =>
        val q0 = System.nanoTime()
        try {
          q.fn(spark, cfg.dataDir).write.mode("overwrite")
            .parquet(dumpDir.resolve(q.name).toString)
        } catch {
          case e: Throwable =>
            errors.getOrElseUpdate(q.name, e.toString.take(300))
        }
        dumpTimes(q.name) = (System.nanoTime() - q0) / 1e9
        q.name -> sql
      }
    }.toMap
    val dumpS = (System.nanoTime() - d0) / 1e9

    val e2e = Map(
      "pass_s" -> Util.median(passWalls.toSeq),
      "op_mean_s" -> lat.sum / lat.size,
      "peak_rss_mb" -> rssMb)
    Result(
      attempted = attempted, failed = failed, e2e = e2e,
      detail = Map(
        "query_pass_s" -> passWalls.toSeq,
        "query_p50_s" -> Util.percentile(lat, 50),
        "query_p75_s" -> Util.percentile(lat, 75),
        "query_p90_s" -> Util.percentile(lat, 90),
        "passes" -> passWalls.size,
        "samples" -> lat.size,
        "subset" -> qs.map(q => s"${q.module}:${q.name}"),
        "subset_rule" -> "the first query by name of every module",
        "excluded" -> excluded,
        "unverified" -> qs.map(_.name).filterNot(q => oracle(q).isDefined),
        "checked_this_run" -> checks.keys.toSeq.sorted,
        "errors" -> errors,
        "dump_s" -> dumpS,
        "dump_query_s" -> dumpTimes,
        "latencies" -> samples.map(x => Seq(x.q.name, x.seconds)),
        "per_query" -> perQuery),
      layers = layers.toMap,
      oracleChecks = checks)
  }

  /** rows/s of the codegen text kernels through their public column
    * functions over documents.parquet text (10 copies, cached first so
    * the figure prices the expression, not the scan). */
  private def exprRates(spark: SparkSession, cfg: Config): Seq[(String, Double)] = {
    import graft.functions._
    val docs = spark.read.parquet(cfg.dataDir + "/documents.parquet")
      .select(col("text"))
    val input = spark.range(10).crossJoin(docs).select(
      col("text"),
      sort_array(array_distinct(split(col("text"), " "))).as("a"),
      sort_array(array_distinct(split(lower(col("text")), " "))).as("b"))
      .cache()
    val n = input.count().toDouble
    val merges = Seq("t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r",
      "a" -> "n", "o" -> "n", "r" -> "e", "e" -> "s", "in" -> "g", "a" -> "t")
    val kernels: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "Top2GramFrac" -> Top2GramFrac.top2gram_frac(col("text")),
      "SortedIntersectCount" ->
        SortedIntersectCount.sorted_intersect_count(col("a"), col("b")),
      "RollingHashLong" -> RollingHashLong.rolling_hash(col("text")),
      "RollingWindowHashes" -> RollingWindowHashes.window_hashes(col("text"), 8)
        .as(Seq("pos", "h")),
      "BpeEncode" -> BpeEncode.bpe_encode(col("text"), merges))
    val out = kernels.map { case (name, c) =>
      val secs = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        input.select(c).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      s"expr.$name.rows_per_s" -> n / Util.median(secs)
    }
    input.unpersist()
    out
  }
}
