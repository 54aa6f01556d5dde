package graft.etl

import org.apache.hadoop.conf.{Configurable, Configuration}
import org.apache.hadoop.fs.{GlobFilter, Path, PathFilter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.util.Try
import graft.model.Schemas

/** Schema-declared ingestion (reference ops 1, 2, 14, 16 — SURVEY.md §2).
  *
  * The reference bulk-loads two S3 JSON corpora with Redshift COPY:
  *   - log events via a JSONPaths file (positional mapping + camelCase→
  *     snake_case rename, sql_queries.py:102–107, dwh.cfg:13),
  *   - songs via `JSON 'auto'` (name mapping, sql_queries.py:109–114),
  * both with `TIMEFORMAT 'epochmillisecs'` for timestamp columns.
  *
  * Spark-first mapping: `spark.read.schema(...).json(path)` name-matches
  * fields exactly like `JSON 'auto'`; the JSONPaths positional contract
  * becomes the explicit rename list below (single source of truth, in the
  * JSONPaths order). Epoch millis → `timestamp_millis`.
  *
  * The JSON readers take a file, a directory or a Hadoop glob. The
  * reference COPYs a prefix of one-song files, `song_data/A/B/C/TR….json`,
  * which a glob with a `*` at each of the four levels matches. Handed a
  * glob, Spark expands it on the driver and then, past 32 matches, looks
  * every matched file up again in a distributed listing job. A glob is
  * instead listed once, on the driver: recursively from its literal
  * directory prefix, with a listing-time [[GlobPathFilter]] that keeps
  * exactly the files the glob matches. The file set and rows equal Spark's
  * own expansion outside directories named `_…` or `.…` (see `readJson`).
  */
object Ingest {

  /** JSONPaths-ordered (jsonField -> stagingColumn) rename list. */
  val logRenames: Seq[(String, String)] = Seq(
    "artist" -> "artist", "auth" -> "auth", "firstName" -> "first_name",
    "gender" -> "gender", "itemInSession" -> "item_in_session",
    "lastName" -> "last_name", "length" -> "length", "level" -> "level",
    "location" -> "location", "method" -> "method", "page" -> "page",
    "registration" -> "registration", "sessionId" -> "session_id",
    "song" -> "song", "status" -> "status", "ts" -> "ts",
    "userAgent" -> "user_agent", "userId" -> "user_id")

  private val epochMillisCols = Set("registration", "ts")

  /** Raw JSON log events → staging_events layout (op 1 + 14 + 16). */
  def readLogEvents(spark: SparkSession, path: String): DataFrame =
    stageLogEvents(readJson(spark, Schemas.logEventJson, path))

  /** The staging transform alone, for testing and for non-JSON inputs:
    * rename camelCase→snake_case in JSONPaths order, convert epoch millis.
    */
  def stageLogEvents(raw: DataFrame): DataFrame = {
    val cols = logRenames.map { case (from, to) =>
      if (epochMillisCols.contains(from)) timestamp_millis(col(from)).as(to)
      else col(from).as(to)
    }
    raw.select(cols: _*)
  }

  /** Song metadata, name-matched like `JSON 'auto'` (op 2). */
  def readSongs(spark: SparkSession, path: String): DataFrame =
    readJson(spark, Schemas.songJson, path)
      .select(Schemas.songJson.fieldNames.map(col).toSeq: _*)

  /** Schema-declared CSV source — same no-inference rule as the JSON
    * readers (SURVEY §1.1: schemas are always explicit; `inferSchema`
    * would add a full extra pass over a 100 TB input AND make types
    * data-dependent). PERMISSIVE mode with an explicit schema means a
    * malformed line yields nulls instead of killing the job — the
    * log-and-continue posture of the reference's COPY loads.
    */
  def readCsv(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType,
              header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read.format("csv")
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .schema(schema)
      .load(path)

  /** Corrupt-tolerant JSON read: PERMISSIVE mode with the rejected raw
    * line captured in `_corrupt_record` — the quarantine pattern for
    * dirty 100 TB log feeds (a FAILFAST load dies on the first bad line
    * of file 80,000; DROPMALFORMED silently changes row counts). Valid
    * rows parse as usual; a malformed line (or a line whose field
    * violates the declared type) yields nulls plus the raw text, so the
    * caller can split the frame into load + quarantine sinks and count
    * both. Note Spark refuses to SELECT only the corrupt column from a
    * raw file scan (internal-column restriction) — keep at least one
    * data column in downstream projections, as the registered query does.
    */
  def readJsonQuarantine(spark: SparkSession, path: String,
                         schema: org.apache.spark.sql.types.StructType): DataFrame = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema already declares _corrupt_record")
    val withCorrupt = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    readJson(spark, withCorrupt, path, Map(
      "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record"))
  }

  /** The JSON source of the three readers above. A path without glob
    * characters is read as Spark reads it. A glob is read from its literal
    * directory prefix with `recursiveFileLookup`, and a [[GlobPathFilter]]
    * keeps the files the rest of the glob matches, plus the files directly
    * inside a directory it matches. Spark's own expansion still serves the
    * cases the prefix listing cannot reproduce: braces around a `/`, a
    * malformed glob or a prefix that is not a directory (Spark's error), a
    * glob that matches no file, and a matched directory with files in its
    * subdirectories (Spark reads those only as `k=v` partitions).
    *
    * One difference remains: the prefix listing skips directories whose
    * names start with `_` or `.`, as every Spark directory listing does,
    * while Spark's glob expansion enters them when a wildcard matches them.
    */
  private def readJson(spark: SparkSession, schema: StructType, path: String,
                       options: Map[String, String] = Map.empty): DataFrame = {
    def read(p: String, extra: Map[String, String]): DataFrame =
      spark.read.schema(schema).options(options ++ extra).json(p)
    globSplit(spark, path).flatMap { case (root, glob) =>
      val df = read(root.toString, Map(
        "recursiveFileLookup" -> "true",
        "mapreduce.input.pathFilter.class" -> classOf[GlobPathFilter].getName,
        GlobPathFilter.DepthKey -> root.depth.toString,
        GlobPathFilter.GlobKey -> glob.mkString("/")))
      val depths = df.inputFiles.map(f => new Path(new java.net.URI(f)).depth)
      Option.when(depths.nonEmpty && depths.max <= root.depth + glob.size + 1)(df)
    }.getOrElse(read(path, Map.empty))
  }

  /** A glob's literal directory prefix, qualified, and its components
    * below that prefix; None when Spark's expansion must read the glob.
    */
  private def globSplit(spark: SparkSession, path: String): Option[(Path, Seq[String])] =
    if (!isGlob(path)) None else Try {
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val chain = Iterator.iterate(fs.makeQualified(new Path(path)))(_.getParent)
        .takeWhile(_ != null).toIndexedSeq.reverse // the root directory first
      val first = chain.indexWhere(p => isGlob(p.getName))
      val glob = chain.drop(first).map(_.getName)
      // throws on a malformed component, braces around a `/` included
      glob.foreach(new GlobFilter(_))
      Option.when(first > 0 && fs.getFileStatus(chain(first - 1)).isDirectory)(
        (chain(first - 1), glob))
    }.toOption.flatten

  /** Spark's test for a glob path (`SparkHadoopUtil.isGlobPath`). */
  private def isGlob(s: String): Boolean = s.exists("{}[]*?\\".contains(_))

  /** Columnar ORC source (Spark-native reader — vectorized, predicate
    * pushdown and column pruning like parquet). ORC files are
    * self-describing, but an explicit schema is still accepted and
    * enforced (same SURVEY §1.1 no-inference posture: a reader should
    * fail loudly on drifted files, not adapt silently).
    */
  def readOrc(spark: SparkSession, path: String,
              schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read.format("orc")
    schema.fold(r)(r.schema).load(path)
  }

  /** Plain-text source: one line per record (the rawest corpus format a
    * crawl delivers). Write + read-back proves the round trip; the reader
    * splits files across tasks natively like any Spark file source.
    */
  def textRoundTrip(docs: DataFrame, path: String,
                    textCol: String = "text"): DataFrame = {
    docs.select(col(textCol)).write.mode("overwrite").text(path)
    docs.sparkSession.read.text(path)
  }

  /** Whole-file binary source (`binaryFile`) — the ingestion shape for
    * raw image/audio/document files at a 100 TB multimodal corpus: each
    * file arrives as (path, modificationTime, length, content BINARY),
    * exactly the opaque-bytes + metadata model `Multimodal` processes.
    * Here the bytes are UTF-8 text parts, decoded and re-split to lines
    * so the content (not the path layout) is what gets verified.
    */
  def binaryFileLines(spark: SparkSession, path: String): DataFrame =
    spark.read.format("binaryFile").load(s"$path/part-*")
      .select(explode(split(decode(col("content"), "UTF-8"), "\n")).as("text"))
      .filter(col("text") =!= "")

  /** Parquet-backed variant so the same transforms run on harness testdata. */
  def readTable(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") readEvents(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** The harness `events` table has shipped `ts` in several parquet physical
    * types across testdata generations; normalize all of them to a plain
    * (UTC-instant) TimestampType so downstream `unix_millis`/`unix_micros`
    * and the ORC/CSV round-trips see one stable type:
    *
    *  - timestamp[ns] → Spark reads as LongType nanos (with
    *    `spark.sql.legacy.parquet.nanosAsLong=true`). Truncate to micros —
    *    integer `div`, NOT `/`, because 2024-epoch nanos ≈ 1.7e18 exceed
    *    double's 53-bit mantissa — matching DuckDB's ns→us truncation so
    *    oracle hashes align.
    *  - timestamp[µs] with isAdjustedToUTC=false (pyarrow/pandas naive
    *    default) → Spark 4.x reads as TIMESTAMP_NTZ. Cast to TimestampType:
    *    the session timezone is pinned UTC, so the NTZ→instant
    *    reinterpretation is the identity — the same reading DuckDB applies
    *    to naive parquet timestamps.
    *  - timestamp[µs] UTC-adjusted → already TimestampType, pass through.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }
}

/** Listing-time filter for a glob read from its literal prefix: keeps a
  * file whose path components below the prefix, taken one per glob
  * component, match those components. Components are decoded Hadoop path
  * names, so a space or `%` in a directory name matches as itself. A file
  * deeper than the glob sits under a matched directory and is kept, so
  * that `Ingest` sees it and leaves such a glob to Spark's expansion.
  * Hadoop builds one instance per listing through `setConf`; it is
  * serializable because Spark's parallel listing ships it to its tasks.
  */
private[etl] final class GlobPathFilter extends PathFilter with Configurable with Serializable {
  @transient private var conf: Configuration = _
  private var depth = 0
  private var glob: Array[String] = Array.empty
  @transient private lazy val filters = glob.map(new GlobFilter(_))

  override def setConf(c: Configuration): Unit = {
    conf = c
    depth = c.getInt(GlobPathFilter.DepthKey, 0)
    glob = c.get(GlobPathFilter.GlobKey, "").split('/')
  }
  override def getConf: Configuration = conf

  override def accept(p: Path): Boolean = {
    val extra = p.depth - depth - glob.length
    extra >= 0 && {
      val below = Iterator.iterate(p)(_.getParent).drop(extra).take(glob.length).toSeq.reverse
      filters.zip(below).forall { case (f, dir) => f.accept(dir) }
    }
  }
}

private[etl] object GlobPathFilter {
  private[etl] val DepthKey = "graft.ingest.glob.prefixDepth"
  private[etl] val GlobKey = "graft.ingest.glob.components"
}
