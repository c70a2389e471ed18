package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() yields rows; every oracle key has a query;
  * every query runs at sf0.001 and returns a well-formed result. */
class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("directory-style events table: e_stream_hourly matches the file run; sized by content") {
    val dir = java.nio.file.Files.createTempDirectory("graft-events-dir").toString
    spark.read.parquet(s"$sf/events.parquet").repartition(3)
      .write.parquet(s"$dir/events.parquet")
    def hourly(d: String) = SparkEntry.queries("e_stream_hourly")(spark, d).collect().toSeq
    val fromDir = hourly(dir)
    assert(fromDir.nonEmpty && fromDir === hourly(sf))
    // ~27 KB of events: a directory's own inode size (a few KB) would size
    // the state to one partition
    val key = "graft.stream.bytesPerStatePartition"
    spark.conf.set(key, "8192")
    try assert(SparkEntry.streamShufflePartitions(spark, dir) > 1)
    finally spark.conf.unset(key)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs at sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }
}
