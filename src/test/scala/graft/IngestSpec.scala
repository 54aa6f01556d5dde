package graft

import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.etl.Ingest
import graft.model.Schemas

/** JSON ingestion — both reference mapping modes (SURVEY §2 ops 1, 2, 14, 16). */
class IngestSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("graft-ingest").toString

  private lazy val logPath = {
    val p = s"$dir/log.json"
    Files.writeString(java.nio.file.Paths.get(p),
      """{"artist":"A","auth":"Logged In","firstName":"Ada","gender":"F","itemInSession":0,"lastName":"L","length":233.40363,"level":"paid","location":"X","method":"PUT","page":"NextSong","registration":1541016707796,"sessionId":100,"song":"S","status":200,"ts":1541105830796,"userAgent":"UA","userId":"10"}
        |{"artist":null,"auth":"Logged Out","firstName":null,"gender":null,"itemInSession":1,"lastName":null,"length":null,"level":"free","location":null,"method":"GET","page":"Home","registration":null,"sessionId":101,"song":null,"status":307,"ts":1541105830900,"userAgent":null,"userId":""}""".stripMargin)
    p
  }

  private lazy val songPath = {
    val p = s"$dir/songs.json"
    Files.writeString(java.nio.file.Paths.get(p),
      """{"num_songs":1,"artist_id":"AR1","artist_latitude":51.5,"artist_longitude":-0.1,"artist_location":"L","artist_name":"N","song_id":"SO1","title":"T","duration":233.40363,"year":0}""")
    p
  }

  test("readLogEvents: JSONPaths-ordered rename + epoch-millis conversion") {
    val df = Ingest.readLogEvents(spark, logPath)
    assert(df.columns.toSeq == Ingest.logRenames.map(_._2))
    val rows = df.orderBy("ts").collect()
    assert(rows(0).getAs[java.sql.Timestamp]("ts").toInstant.toEpochMilli == 1541105830796L)
    assert(rows(0).getAs[java.sql.Timestamp]("registration").toInstant.toEpochMilli == 1541016707796L)
    assert(rows(0).getAs[String]("first_name") == "Ada")
    // nulls and empty user_id survive verbatim (op 16 NOT NULL is a
    // test-level assertion in the reference, not a silent drop)
    assert(rows(1).isNullAt(rows(1).fieldIndex("registration")))
    assert(rows(1).getAs[String]("user_id") == "")
  }

  test("readSongs: name-matched load (`JSON 'auto'` semantics)") {
    val df = Ingest.readSongs(spark, songPath)
    val r = df.collect()(0)
    assert(r.getAs[String]("song_id") == "SO1")
    assert(r.getAs[Double]("duration") == 233.40363)
    assert(r.getAs[Int]("year") == 0)
    assert(df.schema("artist_latitude").dataType.typeName == "double")
  }

  test("readJsonQuarantine: bad lines captured with raw text, valid rows parse") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-json-quar-test")
    java.nio.file.Files.write(dir.resolve("a.json"),
      ("""{"id": 1, "name": "alpha"}""" + "\n" +
        """{broken""" + "\n" +
        """{"id": "xyz", "name": "typo"}""" + "\n" +
        """{"id": 3}""" + "\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val out = Ingest.readJsonQuarantine(spark, dir.toString, schema).cache()
    val quarantined = out.filter(col("_corrupt_record").isNotNull)
      .collect().map(_.getAs[String]("_corrupt_record")).sorted
    assert(quarantined.toSeq == Seq("""{"id": "xyz", "name": "typo"}""", "{broken"))
    val valid = out.filter(col("_corrupt_record").isNull)
      .orderBy("id").collect()
    assert(valid.map(_.getAs[Long]("id")).toSeq == Seq(1L, 3L))
    assert(valid(1).isNullAt(valid(1).fieldIndex("name"))) // missing field ≠ corrupt
    out.unpersist()
    // declaring the reserved column yourself is refused loudly
    intercept[IllegalArgumentException] {
      Ingest.readJsonQuarantine(spark, dir.toString,
        schema.add("_corrupt_record", StringType))
    }
  }

  test("readCsv: declared schema, malformed cells become nulls (log-and-continue)") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-csv-test")
    java.nio.file.Files.write(dir.resolve("a.csv"),
      "id,name,score\n1,alpha,2.5\n2,beta,not_a_number\n3,gamma,4.0\n"
        .getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("score", DoubleType)))
    val out = Ingest.readCsv(spark, dir.toString, schema)
      .orderBy("id").collect()
    assert(out.length == 3) // malformed line survives (PERMISSIVE), not dropped
    assert(out(0).getDouble(2) == 2.5)
    assert(out(1).isNullAt(2)) // unparseable double -> null, row kept
    assert(out(2).getString(1) == "gamma")
  }

  test("text and binaryFile sources reproduce the corpus byte-for-byte") {
    import spark.implicits._
    val docs = Seq((1L, "hello world"), (2L, "zweite zeile"), (3L, "third"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-textsrc-test").toString
    val back = Ingest.textRoundTrip(docs, dir)
      .select($"value").as[String].collect().sorted.toSeq
    assert(back == Seq("hello world", "third", "zweite zeile"))
    // the same part files ingested as raw binary (the multimodal shape)
    val bin = Ingest.binaryFileLines(spark, dir)
      .select($"text").as[String].collect().sorted.toSeq
    assert(bin == back)
  }

  /** One JSON line per file, carrying the file's relative path in every
    * reader's key column, so any file wrongly kept or dropped changes the
    * rows. Decoys sit beside the files the globs must match.
    */
  private def writeTree(root: JPath, rels: Seq[String]): Unit = rels.foreach { rel =>
    val f = root.resolve(rel)
    Files.createDirectories(f.getParent)
    Files.writeString(f,
      s"""{"id":"$rel","song_id":"$rel","title":"t","year":1,"duration":1.5,""" +
        s""""artist":"$rel","page":"NextSong","ts":1541105830796,"userId":"$rel"}\n""" +
        (if (rel == "A/b/p%q/TR2.json") "{broken\n" else ""))
  }

  private lazy val globRoot = {
    val root = Files.createTempDirectory("graft glob %")
    writeTree(root, Seq(
      "A/a/x y/TR1.json", "A/b/p%q/TR2.json", "B/c/d/TR3.json", "C/d/e/TR4.json",
      "D/e/f/TR5.json",
      "A/a/shallow.json",                    // one level too shallow
      "A/a/x y/TR1.txt",                     // right depth, wrong extension
      "A/a/x y/_x.json", "A/a/x y/.x.json",  // hidden to Spark's listing
      "A/a/x y/deep/TR6.json",               // one level too deep
      "2018/11/e1.json", "2018/11/e2.json",
      "2018/12/e3.json",                     // intermediate directory not matched
      "P/x/year=2018/TR7.json"))             // partition directory under a glob match
    root
  }

  private val quarantineSchema = StructType(Seq(StructField("id", StringType)))

  /** (reader under test, the same reader over Spark's own path handling) */
  private def readers(path: String): Seq[(String, DataFrame, DataFrame)] = {
    def json(schema: StructType) = spark.read.schema(schema)
    Seq(
      ("readLogEvents", Ingest.readLogEvents(spark, path),
        Ingest.stageLogEvents(json(Schemas.logEventJson).json(path))),
      ("readSongs", Ingest.readSongs(spark, path),
        json(Schemas.songJson).json(path)
          .select(Schemas.songJson.fieldNames.map(col).toSeq: _*)),
      ("readJsonQuarantine", Ingest.readJsonQuarantine(spark, path, quarantineSchema),
        json(quarantineSchema.add("_corrupt_record", StringType))
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record").json(path)))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSameAsSpark(path: String): Unit =
    readers(path).foreach { case (name, got, want) =>
      assert(got.inputFiles.sorted.toSeq == want.inputFiles.sorted.toSeq, s"$name files: $path")
      assert(got.schema == want.schema, s"$name schema: $path")
      assert(rows(got) == rows(want), s"$name rows: $path")
    }

  test("glob readers keep exactly the files and rows of Spark's glob expansion") {
    val root = globRoot.toString
    for (glob <- Seq("*/*/*/*.json", "2018/11/*.json", "[A-C]/?/*/*.json",
                     "{A,B}/*/*/*.json", "{A/a,B/c}/*/*.json", "2018/*", "A/a/*", "A/*", "P/*")) {
      assertSameAsSpark(s"$root/$glob")
    }
    // the decoys were in reach of the broadest glob and stayed out
    val songs = Ingest.readSongs(spark, s"$root/*/*/*/*.json")
      .select("song_id").collect().flatMap(r => Option(r.getString(0))).sorted.toSeq
    assert(songs == Seq("A/a/x y/TR1.json", "A/b/p%q/TR2.json", "B/c/d/TR3.json",
      "C/d/e/TR4.json", "D/e/f/TR5.json", "P/x/year=2018/TR7.json"))
    // a matched directory holding a `k=v` directory keeps Spark's partition column
    assert(Ingest.readJsonQuarantine(spark, s"$root/P/*", quarantineSchema)
      .columns.contains("year"))
  }

  test("glob readers skip `_` and `.` directories, as Spark's directory listing does") {
    val root = Files.createTempDirectory("graft-glob-hidden")
    writeTree(root, Seq("A/b/c/TR1.json", "_h/b/c/TR2.json", ".h/b/c/TR3.json"))
    val songs = Ingest.readSongs(spark, s"$root/*/*/*/*.json")
      .select("song_id").collect().map(_.getString(0)).toSeq
    assert(songs == Seq("A/b/c/TR1.json"))
  }

  test("plain file and directory paths read as before; an unmatched glob fails as before") {
    val root = globRoot.toString
    assertSameAsSpark(s"$root/A/a/x y/TR1.json")
    assertSameAsSpark(s"$root/A/a/x y")
    assertSameAsSpark(s"$root/2018/11")
    for (bad <- Seq(s"$root/2018/10/*.json", s"$root/none/*/x.json",
                    s"$root/2018/*/*.csv", s"$root/[A-/*.json")) {
      val want = intercept[Exception](spark.read.schema(Schemas.songJson).json(bad))
      val got = intercept[Exception](Ingest.readSongs(spark, bad))
      assert(got.getClass == want.getClass && got.getMessage == want.getMessage, bad)
    }
  }

  test("glob filter survives Spark's parallel listing (serialized to tasks)") {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(key, "1")
    try assertSameAsSpark(s"${globRoot}/*/*/*/*.json")
    finally spark.conf.unset(key)
  }

  test("building readSongs over a glob of 40 files starts no Spark job") {
    val root = Files.createTempDirectory("graft-glob-jobs")
    writeTree(root, (0 until 40).map(i => s"${"ABCD"(i % 4)}/${i % 3}/$i/TR$i.json"))
    val glob = s"$root/*/*/*/*.json"
    val probe = "graft.test.ingest.probe"
    val started = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(probe))).foreach { tag =>
          started.merge(tag, 1, (a, b) => a + b)
          if (tag == "marker") done.countDown()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(probe, "ingest")
      val songs = Ingest.readSongs(spark, glob)
      sc.setLocalProperty(probe, "spark")
      spark.read.schema(Schemas.songJson).json(glob)
      // listener events arrive in order: once the marker job is seen,
      // every job the two reads started has been counted
      sc.setLocalProperty(probe, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(!started.containsKey("ingest"), s"jobs started: $started")
      // the same glob through Spark's expansion lists its files in a job
      assert(started.getOrDefault("spark", 0) >= 1, s"jobs started: $started")
      assert(songs.count() == 40)
    } finally {
      sc.setLocalProperty(probe, null)
      sc.removeSparkListener(listener)
    }
  }
}
