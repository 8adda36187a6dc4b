package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Compact

class CompactSpec extends SparkSuite {
  import spark.implicits._

  test("compact reduces file count and preserves content exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    val df = (0L until 5000L).map(i => (i, s"row$i")).toDF("id", "s")
    df.repartition(32).write.parquet(dir)
    val before = Compact.dataFileCount(dir)
    assert(before >= 16)
    val after = Compact.compact(spark, dir, targetBytes = 64L << 20)
    assert(after < before && after >= 1)
    // count + set: toSet alone would collapse a duplication regression
    // (rewrite merging old and new trees) and still read as "exact"
    assert(spark.read.parquet(dir).count() == 5000L)
    val got = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(got == (0L until 5000L).map(i => (i, s"row$i")).toSet)
  }

  test("compact splits to multiple files when data exceeds the target") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact2").toString + "/t"
    val df = (0L until 20000L).map(i => (i, ("x" * 100) + i)).toDF("id", "s")
    df.repartition(16).write.parquet(dir)
    val bytes = Compact.dataBytes(dir)
    val after = Compact.compact(spark, dir, targetBytes = bytes / 3)
    assert(after >= 2 && after <= 8, s"expected a handful of files, got $after")
    assert(spark.read.parquet(dir).count() == 20000)
  }

  test("compact refuses a partitioned layout instead of silently flattening it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-part").toString + "/t"
    (0L until 100L).map(i => (i, s"d${i % 3}")).toDF("id", "day")
      .write.partitionBy("day").parquet(dir)
    intercept[IllegalArgumentException](Compact.compact(spark, dir, 1L << 20))
    assert(spark.read.parquet(dir).count() == 100) // untouched
  }

  test("compact restores the crash-between-renames state instead of failing on the missing path") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft-compact-crash").toString + "/t"
    val expected = (0L until 3000L).map(i => (i, s"row$i"))
    expected.toDF("id", "s").repartition(16).write.parquet(dir)
    // a compact that died between its two renames: the live path is gone,
    // the original sits under `._graft_compact_old`, a half-written tmp
    // dir is left behind
    Files.move(Paths.get(dir), Paths.get(dir + "._graft_compact_old"),
      StandardCopyOption.ATOMIC_MOVE)
    Files.createDirectories(Paths.get(dir + "._graft_compact_tmp"))
    Files.write(Paths.get(dir + "._graft_compact_tmp", "part-junk.parquet"),
      "debris".getBytes("UTF-8"))
    val after = Compact.compact(spark, dir, targetBytes = 64L << 20)
    assert(after >= 1 && after < 16)
    assert(!Files.exists(Paths.get(dir + "._graft_compact_old")))
    assert(!Files.exists(Paths.get(dir + "._graft_compact_tmp")))
    assert(spark.read.parquet(dir).count() == 3000L)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet == expected.toSet)
  }

  test("compactVersion is a no-op when the layout already meets the target") {
    import graft.sources.Snapshots
    val table = java.nio.file.Files.createTempDirectory("graft-compactnoop").toString + "/t"
    Snapshots.commit((0L until 100L).toDF("id").coalesce(1), table)
    val (v1, n1) = Snapshots.compact(spark, table, targetBytes = 64L << 20)
    assert(v1 == 1 && n1 == 1) // already one file: no new version accreted
    assert(Snapshots.latestVersion(table).contains(1))
  }

  test("compactVersion publishes a NEW snapshot version; a concurrent reader never sees a missing path") {
    import graft.sources.Snapshots
    val table = java.nio.file.Files.createTempDirectory("graft-compactv").toString + "/t"
    val expected = (0L until 5000L).map(i => (i, s"row$i")).toSet
    Snapshots.commit(expected.toSeq.toDF("id", "s").repartition(32), table)
    // (file count, on-disk bytes) of v=1's data files
    val v1Before = Snapshots.resolvedStats(table, 1)
    val before = v1Before._1
    assert(before >= 16)
    // concurrent reader hammers the table while compaction runs: every
    // read must resolve a complete version — old or new, never missing
    @volatile var stop = false
    @volatile var readerFailure: Option[Throwable] = None
    val reader = new Thread(() => {
      try while (!stop) {
        assert(Snapshots.read(spark, table).count() == 5000)
      } catch { case t: Throwable => readerFailure = Some(t) }
    })
    reader.start()
    try {
      val (newV, files) = Snapshots.compact(spark, table, targetBytes = 64L << 20)
      assert(newV == 2 && files < before && files >= 1)
    } finally { stop = true; reader.join() }
    assert(readerFailure.isEmpty, s"reader failed during compaction: $readerFailure")
    // new version carries identical content; old version untouched for pins
    assert(Snapshots.read(spark, table).as[(Long, String)].collect().toSet == expected)
    assert(Snapshots.read(spark, table, Some(1)).as[(Long, String)].collect().toSet == expected)
    assert(Snapshots.resolvedStats(table, 1) == v1Before)
  }
}
