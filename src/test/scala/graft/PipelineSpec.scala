package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.etl.{Catalog, Pipeline, Transforms}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def fixtures = {
    val se = Seq(
      ("Song1", "Art1", Some(100.0), 1700000000000L, "u1", "paid", 1, "L", "UA", "NextSong"),
      ("Song1", "Art1", Some(100.0), 1700003600000L, "u2", "free", 2, "L", "UA", "NextSong"),
      (null, null, None, 1700007200000L, "u1", "paid", 1, "L", "UA", "Home"))
      .toDF("song", "artist", "length", "ts_millis", "user_id", "level",
        "session_id", "location", "user_agent", "page")
      .withColumn("ts", timestamp_millis(col("ts_millis"))).drop("ts_millis")
      .withColumn("first_name", lit("F")).withColumn("last_name", lit("L"))
      .withColumn("gender", lit("F"))
    val ss = Seq(
      ("SO1", "AR1", "Song1", "Art1", 100.0, 0, "Loc", 1.0, 2.0),
      ("SO2", "AR2", "Song2", "Art2", 200.0, 1999, "Loc2", 3.0, 4.0))
      .toDF("song_id", "artist_id", "title", "artist_name", "duration",
        "year", "artist_location", "artist_latitude", "artist_longitude")
    (se, ss)
  }

  test("run materializes the five star tables; re-run is idempotent") {
    val out = Files.createTempDirectory("graft-pipe").toString
    val (se, ss) = fixtures
    val r1 = Pipeline.run(spark, se, ss, out)
    assert(r1.failures.isEmpty, r1.failures.mkString(","))
    assert(r1.counts == Map("time" -> 3L, "users" -> 3L, "songs" -> 2L,
      "artists" -> 2L, "songplays" -> 2L))
    // counts come from observe() on the write, not a re-scan — verify they
    // match the files actually written
    assert(spark.read.parquet(s"$out/songplays").count() == 2)
    // songplays is partitioned by (year, month) for pruning
    assert(new java.io.File(s"$out/songplays").listFiles()
      .exists(_.getName.startsWith("year=")))
    val r2 = Pipeline.run(spark, se, ss, out) // overwrite mode: same state
    assert(r2.counts == r1.counts)
    assert(spark.read.parquet(s"$out/users").count() == 3)
  }

  test("log-and-continue: one failing write doesn't stop the others") {
    val out = Files.createTempDirectory("graft-pipe-fail").toString
    val (se, ss) = fixtures
    // A songs frame whose evaluation throws (ANSI overflow) only at write
    // time: the songs write fails, the other four succeed. The repartition
    // keeps Spark from folding the local relation eagerly at construction.
    val badSongs = ss.repartition(2).withColumn("year",
      (col("year") + lit(Int.MaxValue)).cast("int") * 2)
    val r = Pipeline.run(spark, se, badSongs, out)
    assert(r.failures.keySet == Set("songs", "artists", "songplays") ||
      r.failures.keySet.contains("songs"))
    assert(r.counts.keySet.contains("time") && r.counts.keySet.contains("users"))
  }

  test("a run that fails analysis releases both staging caches") {
    val out = Files.createTempDirectory("graft-pipe-nopage").toString
    val (se, ss) = fixtures
    // a fresh relation: a `drop` over the fixture would let the analyzer
    // resolve `page` from the plan below it
    val noPage = spark.createDataFrame(
      java.util.Arrays.asList(se.drop("page").collect(): _*), se.drop("page").schema)
    intercept[org.apache.spark.sql.AnalysisException](
      Pipeline.run(spark, noPage, ss, out))
    assert(noPage.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(ss.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("bucketed tables join with zero shuffle exchanges") {
    val facts = (1L to 1000L).map(i => (i % 100, i, i * 2.0))
      .toDF("key", "id", "amount")
    val dims = (0L until 100L).map(i => (i, s"name$i")).toDF("key", "name")
    spark.sql("DROP TABLE IF EXISTS b_facts")
    spark.sql("DROP TABLE IF EXISTS b_dims")
    Catalog.materializeBucketed(facts, "b_facts", Seq("key"), 8)
    Catalog.materializeBucketed(dims, "b_dims", Seq("key"), 8)
    // disable broadcast so the bucket co-location is what's being tested
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = spark.table("b_facts").join(spark.table("b_dims"), "key")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free join:\n$plan")
      assert(joined.count() == 1000)
      // the registered op_bucketed_join shape: aggregation on the bucket
      // key after the join also needs no exchange
      val agg = joined.groupBy("key").agg(org.apache.spark.sql.functions.sum("amount"))
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"), s"expected shuffle-free join+agg:\n$aggPlan")
      assert(agg.count() == 100)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
    }
  }

  test("catalog: create x7 idempotent, insertInto appends, drop x7 idempotent") {
    Catalog.dropTables(spark)
    Catalog.createTables(spark)
    assert(Catalog.tables.forall { case (n, _) => spark.catalog.tableExists(n) })
    Catalog.createTables(spark) // IF NOT EXISTS: no error, no reset
    val users = Seq(("u1", "F", "L", "F", "paid"))
      .toDF("user_id", "first_name", "last_name", "gender", "level")
    Catalog.insertInto(users, "users")
    Catalog.insertInto(users, "users")
    assert(spark.table("users").count() == 2) // append semantics (op 5)
    assert(Catalog.counts(spark)("users") == 2L)
    Catalog.dropTables(spark)
    assert(Catalog.tables.forall { case (n, _) => !spark.catalog.tableExists(n) })
    Catalog.dropTables(spark) // IF EXISTS: idempotent on empty catalog
  }

  test("partitioned write prunes partitions at planning time on read") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-part-test").toString
    (1L to 300L).map(i => (i, s"t${i % 3}", i * 1.5))
      .toDF("id", "kind", "v")
      .write.mode("overwrite").partitionBy("kind").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("kind") === "t1")
    val plan = pruned.queryExecution.executedPlan.toString
    // the predicate must land in PartitionFilters (directory pruning),
    // not PushedFilters (row-group skipping inside a full file list)
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("kind"),
      s"expected kind in PartitionFilters:\n$plan")
    assert(pruned.count() == 100)
    // the pruned scan reads a third of the files
    val files = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.size).sum
    }
    val allFiles = spark.read.parquet(dir).queryExecution.executedPlan
      .collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
            .map(_.files.size).sum
      }
    assert(files.sum < allFiles.sum,
      s"pruned scan lists ${files.sum} files vs ${allFiles.sum} unpruned")
  }
}
