package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}

/** End-to-end ELT orchestration (reference ops 3,4,5,17: create_tables.py +
  * etl.py — drop/create, 2 COPYs, 5 INSERT…SELECTs run sequentially with a
  * log-and-continue error policy).
  *
  * Spark-first shape: read staging once, cache it (it feeds all five
  * transforms, like Redshift's staging tables feed five INSERTs), then five
  * parquet writes. `songplays` is partitioned by (year, month) of
  * start_time so downstream time-range queries get partition pruning —
  * the 100 TB posture the reference's EVEN distribution lacks.
  *
  * Default mode is Overwrite: the reference's `make etl` always drops and
  * recreates every table first (create_tables.py:12–44), so a re-run is
  * idempotent. Append reproduces the raw INSERT behavior for callers that
  * stage their own teardown.
  */
object Pipeline {

  final case class Result(counts: Map[String, Long], failures: Map[String, Throwable])

  def run(spark: SparkSession, events: DataFrame, songs: DataFrame,
          outDir: String, saveMode: SaveMode = SaveMode.Overwrite): Result = {
    import org.apache.spark.sql.functions._

    val se = events.cache()
    val ss = songs.cache()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    // A transform that fails analysis throws out of here, and an
    // interrupted Await leaves writes running: neither may leak the
    // staging cache entries or the pool.
    try {
      val songplays = Transforms.withSurrogateId(Transforms.buildSongplays(se, ss))
        .withColumn("year", year(col("start_time")))
        .withColumn("month", month(col("start_time")))

      // (name, df, partition columns) — the five writes are mutually
      // independent (distinct output dirs, all roots cached), so they run
      // OVERLAPPED on a small thread pool instead of as five sequential
      // action barriers: the tail tasks of one write back-fill cores the
      // next write's scan would leave idle (the guide's §2.6 pattern; the
      // reference's insert loop is sequential only because Python is).
      // Per-statement log-and-continue semantics are unchanged — each
      // thread catches its own failure, like etl.py:27–30/49–50.
      val writes: Seq[(String, DataFrame, Seq[String])] = Seq(
        ("time", Transforms.buildTime(se), Nil),
        ("users", Transforms.buildUsers(se), Nil),
        ("songs", Transforms.buildSongs(ss), Nil),
        ("artists", Transforms.buildArtists(se, ss), Nil),
        ("songplays", songplays, Seq("year", "month")))

      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val futures = writes.map { case (name, df, parts) =>
        scala.concurrent.Future {
          // Row counts ride the write itself via observe() — no second
          // scan of the written table (a full re-read per write would be
          // a genuine extra pass at 100 TB).
          try {
            val obs = Observation(s"rows_$name")
            val observed = df.observe(obs, count(lit(1)).as("n"))
            val w = observed.write.mode(saveMode)
            (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
              .parquet(s"$outDir/$name")
            name -> Right(obs.get("n").asInstanceOf[Long])
          } catch { case e: Throwable => name -> Left(e) }
        }
      }
      val results = futures.map(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      val counts = results.collect { case (n, Right(c)) => n -> c }.toMap
      val failures = results.collect { case (n, Left(e)) => n -> e }.toMap
      Result(counts, failures)
    } finally {
      pool.shutdown()
      se.unpersist(); ss.unpersist()
    }
  }
}
