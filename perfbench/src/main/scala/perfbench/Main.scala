package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, outDir: Path, dataDir: String,
    corpusDir: Path, backfill: Int, pgPort: Int)

/** What one workload hands back: the closed loop's counts, the
  * end-to-end figures, details for the report, per-layer figures (traced
  * runs only) and what the Python side needs to check the outputs. */
final case class Result(attempted: Int, failed: Int, e2e: Map[String, Double],
    detail: Map[String, Any], layers: Map[String, Double],
    oracleChecks: Map[String, String] = Map.empty,
    etlCheck: Map[String, Any] = Map.empty)

/** JVM side of the benchmark: one workload per process.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --out DIR --data SF_DIR [--corpus DIR --backfill B --pg-port P]
  *
  * Writes DIR/jvm.json; perfbench/run.py starts it, checks the outputs
  * and prints the result.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    // --oracles FILE: write the oracle SQL of query_surface's queries, so
    // the oracle results can be computed once per build.
    opt.get("oracles").foreach { f =>
      Util.writeJson(Paths.get(f), QueryLoad.subset
        .flatMap(q => QueryLoad.oracle(q.name).map(q.name -> _)).toMap)
      return
    }
    val out = Paths.get(opt("out")).toAbsolutePath
    val cfg = Config(
      workload = opt("workload"), seed = opt("seed").toLong,
      seconds = opt("seconds").toDouble, trace = opt("trace") == "1",
      cores = opt("cores").toInt, outDir = out, dataDir = opt("data"),
      corpusDir = Paths.get(opt.getOrElse("corpus", ".")).toAbsolutePath,
      backfill = opt.getOrElse("backfill", "0").toInt,
      pgPort = opt.getOrElse("pg-port", "0").toInt)

    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("graft.checkpoint", "local")
      .getOrCreate()
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(out.resolve("checkpoints").toString)
    val warmed = cfg.workload match {
      case "etl_cdc_load" => Util.warmPageCache(cfg.corpusDir)
      case _ => Util.warmPageCache(Paths.get(cfg.dataDir))
    }
    // The session's first job pays for starting the scheduler and loading
    // the execution classes: a cost of the session, not of any query.
    spark.range(1000).selectExpr("sum(id)").collect()
    val ev = if (cfg.trace) {
      val e = new SparkEvents
      e.attach(spark)
      Some(e)
    } else None
    // JVM start to a ready session with warm inputs
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tr = new Tracer(cfg.trace)
    val r = cfg.workload match {
      case "etl_cdc_load" => EtlLoad.run(spark, cfg, tr, ev)
      case "query_surface" => QueryLoad.run(spark, cfg, tr, ev)
      case w => sys.error(s"unknown workload: $w")
    }
    val layers = r.layers ++ ev.map(e => "trace.callback_s" -> e.callbackNs / 1e9)
    val spans = tr.summary.map { case (n, (total, self, count)) =>
      n -> Map("total_s" -> total, "self_s" -> self, "count" -> count)
    }
    val conf = spark.sparkContext.getConf.getAll.toMap
    spark.stop()
    Util.writeJson(out.resolve("jvm.json"), Map(
      "jvm_setup_s" -> setupS,
      "session_ready_s" -> sessionS,
      "warmed_bytes" -> warmed,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "e2e" -> r.e2e,
      "detail" -> r.detail,
      "layers" -> layers,
      "spans" -> spans,
      "oracle_checks" -> r.oracleChecks,
      "etl_check" -> r.etlCheck,
      "etl_oracle_sql" -> Map(
        "tracking" -> graft.SparkEntry.oracleSql("etl_tracking_replay"),
        "events" -> graft.SparkEntry.oracleSql("etl_events_replay")),
      "spark_conf" -> conf,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)))
  }
}
