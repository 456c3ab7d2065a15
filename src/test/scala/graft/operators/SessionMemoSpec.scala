package graft.operators

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** The session memo ([[DataOps.memoGet]]): hits, eviction, the
  * other-session sweep, CacheManager release, the race-loser rule and
  * nested builders — plus a source guard that it stays the only one. */
class SessionMemoSpec extends SparkSpec {
  import spark.implicits._

  /** True when `df`'s plan holds a CacheManager entry. */
  private def cached(df: DataFrame): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isDefined

  /** A small relation with its own plan per `tag`, so cache entries of
    * different tests never alias. */
  private def rel(tag: Int): DataFrame =
    spark.range(1000).toDF("x").filter($"x" % 97 === tag)

  test("a second lookup in the same session is a hit; eviction forces a rebuild") {
    var builds = 0
    def get() = DataOps.memoGet(spark, "memospec#hit") {
      builds += 1; rel(1)
    }
    val a = get()
    assert(get() eq a)
    assert(builds === 1)
    DataOps.evictSessionMemos()
    val b = get()
    assert(!(b eq a))
    assert(builds === 2)
    DataOps.evictSessionMemos()
  }

  test("eviction unpersists a cached entry") {
    val df = DataOps.memoGet(spark, "memospec#evict")(rel(2).cache())
    assert(df.count() > 0 && cached(df))
    DataOps.evictSessionMemos()
    assert(!cached(df), "an evicted entry must leave the CacheManager")
  }

  test("another session's lookup sweeps this session's entries and unpersists them") {
    var builds = 0
    def get() = DataOps.memoGet(spark, "memospec#sweep") {
      builds += 1; rel(3).cache()
    }
    val a = get()
    assert(a.count() > 0 && cached(a))
    val other = spark.newSession()
    DataOps.memoGet(other, "memospec#other")(other.range(3).toDF())
    assert(!cached(a), "a swept entry must leave the CacheManager")
    val b = get()
    assert(builds === 2, "the swept entry is rebuilt, not served")
    assert(!(b eq a))
    DataOps.evictSessionMemos()
  }

  test("a race loser is dropped, and the winner stays cached") {
    // A builder that fetches its own key publishes first (the winner);
    // the outer build then loses the putIfAbsent and is dropped without
    // an unpersist, which would uncache the winner's shared entry.
    var inner: DataFrame = null
    val got = DataOps.memoGet(spark, "memospec#race") {
      inner = DataOps.memoGet(spark, "memospec#race")(rel(4).cache())
      rel(4).cache()
    }
    assert(got eq inner, "the first publish wins")
    assert(got.count() > 0 && cached(got), "the loser must not uncache the winner")
    assert(DataOps.memoGet(spark, "memospec#race")(sys.error("must hit")) eq got)
    DataOps.evictSessionMemos()
  }

  test("nested builders: CM counters over the memoized token counts") {
    val d = sf("sf0.001")
    val counters = DataOps.cmCountersMemo(spark, d)
    val counts = DataOps.cmTokenCountsMemo(spark, d)
    assert(counters.count() > 0 && counts.count() > 0)
    assert(DataOps.cmCountersMemo(spark, d) eq counters)
    assert(DataOps.cmTokenCountsMemo(spark, d) eq counts,
      "the inner build is published under its own key")
    DataOps.evictSessionMemos()
  }

  test("a missing CDC corpus fails loudly, naming the directory") {
    val missing = """CDC corpus directory (\S+) is missing.*""".r
    scala.util.Try(EtlQueries.replay(spark, "tracking")) match {
      case scala.util.Success(df) => assert(df.limit(1).count() === 1L)
      case scala.util.Failure(e: IllegalStateException) =>
        val missing(dir) = e.getMessage: @unchecked
        assert(!new java.io.File(dir).isDirectory)
        // a failed build publishes nothing: the next call fails again
        intercept[IllegalStateException](EtlQueries.replay(spark, "tracking"))
      case scala.util.Failure(e) => throw e
    }
  }

  test("source guard: DataOps holds the only session memo map") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    val store = """ConcurrentHashMap\[\(\s*String\s*,\s*String\s*\)\s*,\s*DataFrame\s*\]""".r
    val files = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root.toPath).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }
    val hits = files.flatMap { p =>
      val text = java.nio.file.Files.readString(p)
      store.findAllIn(text).map(_ => s"$p: session memo map") ++
        "onMemoEvict".r.findAllIn(text).map(_ => s"$p: onMemoEvict")
    }
    assert(hits === Seq(
      "src/main/scala/graft/operators/DataOps.scala: session memo map"),
      "shared relations go through DataOps.memoGet, not a new map or hook")
  }
}
