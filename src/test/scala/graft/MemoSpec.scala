package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CorpusCount, Memo}
import graft.sources.kvbin.{KVBin, KVBinServer, KVBinSource}

/** The one session memo behind the shingle-index, verified-pair and
  * corpus-count caches: session pruning, the size bound, fingerprint
  * degradation, and freshness of memoized counts after kvbin rewrites
  * and wire appends. */
class MemoSpec extends SparkTestBase {
  private val kvbinFmt = classOf[KVBinSource].getName

  /** `n` binary (key, value) rows with keys `prefix0000..`. */
  private def kv(prefix: String, n: Int): DataFrame =
    spark.range(n).select(
      format_string(s"$prefix%04d", col("id")).cast("binary").as("key"),
      col("id").cast("string").cast("binary").as("value"))

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("an entry of a stopped session is never served; live sessions keep theirs") {
    var stopped = Set.empty[SparkSession]
    val memo = new Memo[Int](8, s => stopped.contains(s))
    val other = spark.newSession()
    var builds = 0
    def get(s: SparkSession): Int = memo(s.range(3).toDF())({ builds += 1; builds })
    assert(get(other) === 1)
    assert(get(spark) === 2)
    assert(get(other) === 1, "a live session is served its entry")
    stopped += other
    assert(get(other) === 3, "a stopped session's entry must be rebuilt, not served")
    assert(get(spark) === 2, "pruning a stopped session leaves live entries")
  }

  test("the (bound+1)-th key evicts the oldest") {
    val memo = new Memo[Int](2)
    val df = spark.range(5).toDF()
    var builds = 0
    def get(param: Int): Int = memo(df, param)({ builds += 1; param })
    (1 to 3).foreach(get)
    assert(builds === 3)
    get(2); get(3)
    assert(builds === 3, "the two newest keys are still served")
    get(1)
    assert(builds === 4, "the oldest key was evicted and is rebuilt")
  }

  test("a throwing fingerprint (unreachable kvbin endpoint) gives an uncached build, not an error") {
    val dir = tempDir("memo-unreach-")
    KVBin.write(kv("k", 10), dir, 1)
    val server = new KVBinServer(dir, spark.sessionState.newHadoopConf())
    val df =
      try spark.read.format(kvbinFmt).option("endpoints", server.address).load()
      finally server.close()
    val memo = new Memo[Long](8)
    var builds = 0
    def get(): Long = memo(df)({ builds += 1; 42L })
    assert(get() === 42L)
    assert(get() === 42L)
    assert(builds === 2, "an unfingerprintable input must never be served from the memo")
  }

  test("CorpusCount.of is fresh after a path-backed kvbin table is rewritten in place") {
    val dir = tempDir("memo-kvpath-")
    KVBin.write(kv("k", 10), dir, 2)
    val df = KVBin.read(spark, dir)
    CorpusCount.clear()
    try {
      assert(CorpusCount.of(df) === 10L)
      assert(CorpusCount.of(df) === 10L)
      KVBin.write(kv("k", 25), dir, 2)
      assert(CorpusCount.of(df) === 25L, "a rewritten table must be counted afresh")
    } finally CorpusCount.clear()
  }

  test("CorpusCount.of is fresh after a wire append to an endpoints-backed table") {
    val dir = tempDir("memo-kvwire-")
    val server = new KVBinServer(dir, spark.sessionState.newHadoopConf())
    CorpusCount.clear()
    try {
      kv("a", 10).write.format(kvbinFmt)
        .option("endpoints", server.address).mode("append").save()
      val df = spark.read.format(kvbinFmt).option("endpoints", server.address).load()
      assert(CorpusCount.of(df) === 10L)
      kv("b", 5).write.format(kvbinFmt)
        .option("endpoints", server.address).mode("append").save()
      assert(CorpusCount.of(df) === 15L, "an appended table must be counted afresh")
    } finally {
      server.close()
      CorpusCount.clear()
    }
  }
}
