package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.etl.Pipelines

/** The reference ETL pipelines as driver-visible queries: a full replay of
  * the 881-file CDC corpus (tracking = per-document, events = per-nested-
  * event with the Python-literal parse + explode_outer). Fully oracled
  * since round 14: [[trackingReplaySql]]/[[eventsReplaySql]] rebuild the
  * reference semantics in DuckDB SQL from the raw corpus (the general
  * Python-literal grammar is not SQL-expressible, but THIS corpus's
  * measured value space makes an exact rewrite possible — see the oracle
  * section), so the driver hash-matches all 3M replay rows cross-engine;
  * the ScalaTest suite (graft.etl.*Spec) still gates the general-input
  * semantics (escapes, malformed literals, quarantine) the corpus
  * doesn't exercise.
  *
  * These double as the throughput benchmark against the reference's one
  * published number: ≈2 h for the events corpus (≈460 rows/s,
  * README.md:324). Timings land in BENCH_r{N}.json via graft.Bench.
  */
object EtlQueries {

  private val CorpusDir = "/root/reference/data/extracted"

  /** Fixed clock so replay output is deterministic run-to-run. */
  private val ReplayClock = Some(Timestamp.valueOf("2023-09-05 00:00:00"))

  /** ONE root path, not 881 file paths (round 15): Spark's FileIndex
    * runs a distributed listing JOB when the root-path count crosses
    * spark.sql.sources.parallelPartitionDiscovery.threshold (32) — one
    * task per path, 881 tasks, ~2 s per fresh DataFrame in local mode,
    * re-paid per sweep under the bench's memo eviction (probe: the
    * 881-task stage led every replay rebuild). A single directory root
    * lists driver-side (one readdir); the glob keeps non-CSV strays
    * out, matching the old explicit-list semantics. At cluster scale a
    * single-root listing is also the right shape (the FileIndex
    * parallelizes WITHIN a root when the tree is deep; a flat dir of
    * known files needs no job at all). The bare directory, NOT a glob —
    * Spark expands globs driver-side into one root path per match,
    * which re-triggers the 881-root listing job; the dir is all-CSV by
    * construction (the extractor writes nothing else, and the DuckDB
    * replay oracles read the same '*.csv'). A missing directory throws:
    * an empty scan would let every etl_ and ref_ query "succeed" on
    * zero rows. */
  private def corpus(): Seq[String] = {
    if (!new java.io.File(CorpusDir).isDirectory)
      throw new IllegalStateException(
        s"CDC corpus directory $CorpusDir is missing: the etl_*/ref_* " +
          "queries replay it and cannot run without it")
    Seq(CorpusDir)
  }

  /** The CACHED replay outputs, [[DataOps.memoGet]] artifacts: several
    * queries (the replay dumps, the staged copy and the interactive-SQL
    * views of ReferenceQueries) consume the same corpus — parse the 881
    * files once per session, not once per query. */
  def replay(s: SparkSession, name: String): DataFrame =
    DataOps.memoGet(s, s"replay#$name") {
      (name match {
        case "tracking" => Pipelines.tracking(s, corpus(), clock = ReplayClock)
        case _          => Pipelines.events(s, corpus(), clock = ReplayClock)
      }).cache()
    }

  /** CSV→parquet staging of the events corpus — the real 100 TB ingest
    * shape: pay the text parse ONCE, query columnar many times. Round 3
    * measured a 3.3× replay swing that was pure page cache over the
    * 951 MB CSV corpus; the staged scan reads ~an order of magnitude
    * fewer bytes (snappy parquet, column-pruned) and is cache-stable.
    * Staged once per session through the memo, into that session's own
    * directory under target/staged_events: a staging left by an earlier
    * run is never served as fresh, and no other session or JVM can
    * overwrite the files this session's relation reads (two concurrent
    * misses within one session still share the directory; no caller
    * stages concurrently). */
  private val StagedEventsDir =
    new java.io.File("target/staged_events").getAbsolutePath

  /** Write `df` to parquet at `dir` (overwriting) and read back the
    * columnar copy. */
  def stageAndRead(s: SparkSession, df: DataFrame, dir: String): DataFrame = {
    df.write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
  }

  def stagedEvents(s: SparkSession): DataFrame =
    DataOps.memoGet(s, "replay#events_staged") {
      stageAndRead(s, replay(s, "events"), StagedEventsDir + "/" +
        org.apache.spark.sql.graft.PlanBridge.sessionUUID(s))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_tracking_replay" -> ((s, _) => replay(s, "tracking")),
    "etl_events_replay"   -> ((s, _) => replay(s, "events")),
    "etl_events_replay_staged" -> ((s, _) => stagedEvents(s))
  )

  // ------------------------------------------------------------------
  // INDEPENDENT DuckDB-side replay oracles (round-14 ask 4): the replay
  // rows used to be gated only by self-referential specs + value
  // goldens; these rebuild the reference semantics (dags/datahelper/
  // postgres.py:117-155) from the raw CSV corpus in DuckDB SQL, so the
  // driver's compare now hash-matches the FULL corpus output of both
  // pipelines against an engine that shares no code with the Spark
  // side. The rewrite is justified by measured corpus properties
  // (tools-probed, round 14): all 881 files are valid UTF-8, no field
  // contains a double quote or an embedded newline, the only
  // backslash escape in any Python literal is \t (also a valid JSON
  // escape), no string value contains the token 'None' — so the
  // literal→JSON transform is two plain replaces (' → ", None → null),
  // exact on this corpus by construction (the engine's PyLiteralParser
  // handles the general cases; QuarantineSpec gates those on synthetic
  // input). explode_outer's keep-empty-row semantics are reproduced by
  // padding empty/null arrays with [NULL] before unnest (DuckDB's
  // unnest drops empties).
  // ------------------------------------------------------------------

  /** The six-column typed scan shared by both replay oracles; basename
    * via regexp — the fileName audit column (S2). */
  private def rawScanSql: String =
    s"""raw AS (
       |  SELECT "Op", oid__id, "createdAt", "updatedAt",
       |    "lastSyncTracker", array_trackingEvents,
       |    regexp_extract(filename, '([^/]+)$$', 1) AS fileName
       |  FROM read_csv('$CorpusDir/*.csv',
       |    header = true, filename = true,
       |    columns = {'Op': 'VARCHAR', 'oid__id': 'VARCHAR',
       |      'createdAt': 'BIGINT', 'updatedAt': 'BIGINT',
       |      'lastSyncTracker': 'BIGINT',
       |      'array_trackingEvents': 'VARCHAR'}))""".stripMargin

  /** F5's literal-string null map, applied per string column. */
  private def nullMap(c: String, as: String): String =
    s"""CASE WHEN $c IN ('NaN', 'NaT', 'None', '') THEN NULL
       |      ELSE $c END AS $as""".stripMargin

  /** tracking pipeline: epoch→ts, fixed uploadDate clock, null map,
    * keep-last dedup — the ORDER BY mirrors Transforms.dedupKeepLast
    * exactly (fileName, then the version columns, then the remaining
    * columns in projection order, all DESC NULLS LAST). */
  private[operators] def trackingReplaySql: String =
    s"""WITH $rawScanSql,
       |conv AS (
       |  SELECT
       |    ${nullMap("oid__id", "oid__id")},
       |    ${nullMap("\"Op\"", "\"Op\"")},
       |    make_timestamp("createdAt" * 1000000) AS "createdAt",
       |    make_timestamp("updatedAt" * 1000000) AS "updatedAt",
       |    make_timestamp("lastSyncTracker" * 1000000)
       |      AS "lastSyncTracker",
       |    TIMESTAMP '2023-09-05 00:00:00' AS uploadDate,
       |    ${nullMap("fileName", "fileName")}
       |  FROM raw),
       |d AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY oid__id
       |    ORDER BY fileName DESC NULLS LAST,
       |      "updatedAt" DESC NULLS LAST,
       |      "lastSyncTracker" DESC NULLS LAST,
       |      "Op" DESC NULLS LAST, "createdAt" DESC NULLS LAST,
       |      uploadDate DESC NULLS LAST) AS __rn
       |  FROM conv)
       |SELECT oid__id, "Op", "createdAt", "updatedAt",
       |  "lastSyncTracker", uploadDate, fileName
       |FROM d WHERE __rn = 1""".stripMargin

  /** events pipeline: literal→JSON→typed array, explode_outer (with the
    * [NULL] pad), Mongo $$date flatten, null map, full-row distinct. */
  private[operators] def eventsReplaySql: String = {
    val eventStruct =
      """STRUCT("createdAt" STRUCT("$date" BIGINT),
        |        "trackingCode" VARCHAR, "status" VARCHAR,
        |        "description" VARCHAR, "trackerType" VARCHAR,
        |        "from" VARCHAR, "to" VARCHAR)""".stripMargin
    s"""WITH $rawScanSql,
       |parsed AS (
       |  SELECT oid__id, fileName,
       |    CASE WHEN array_trackingEvents IS NULL THEN NULL
       |      ELSE json_transform(
       |        replace(replace(array_trackingEvents, chr(39), '"'),
       |          'None', 'null'),
       |        '[{"createdAt": {"$$date": "BIGINT"},
       |           "trackingCode": "VARCHAR", "status": "VARCHAR",
       |           "description": "VARCHAR", "trackerType": "VARCHAR",
       |           "from": "VARCHAR", "to": "VARCHAR"}]')
       |    END AS arr
       |  FROM raw),
       |padded AS (
       |  SELECT oid__id, fileName,
       |    CASE WHEN arr IS NULL OR len(arr) = 0
       |      THEN [NULL :: $eventStruct]
       |      ELSE arr END AS arr
       |  FROM parsed),
       |ex AS (SELECT oid__id, fileName, unnest(arr) AS e FROM padded),
       |flat AS (
       |  SELECT
       |    ${nullMap("oid__id", "oid__id")},
       |    ${nullMap("e.\"trackingCode\"", "trackingCode")},
       |    ${nullMap("e.\"status\"", "status")},
       |    ${nullMap("e.\"description\"", "description")},
       |    ${nullMap("e.\"trackerType\"", "trackerType")},
       |    ${nullMap("e.\"from\"", "\"from\"")},
       |    ${nullMap("e.\"to\"", "\"to\"")},
       |    make_timestamp(e."createdAt"."$$date" * 1000)
       |      AS eventCreatedAt,
       |    TIMESTAMP '2023-09-05 00:00:00' AS uploadDate,
       |    ${nullMap("fileName", "fileName")}
       |  FROM ex)
       |SELECT DISTINCT * FROM flat""".stripMargin
  }

  /** Fenced (the corpus scan is the one oracle input that is hundreds
    * of MB — see DataOps.fenced); the staged variant rides the same
    * oracle, its rows are the same relation through a parquet hop. */
  val oracleSql: Map[String, String] = Map(
    "etl_tracking_replay" -> DataOps.fenced(trackingReplaySql),
    "etl_events_replay" -> DataOps.fenced(eventsReplaySql),
    "etl_events_replay_staged" -> DataOps.fenced(eventsReplaySql)
  )
}
