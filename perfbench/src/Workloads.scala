package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.analytics.Analytics
import graft.etl.{Ingest, Pipeline, Transforms}

/** One benchmark workload: its inputs, its round-robin operations, the
  * output check of each, and the layer probes of a traced run.
  */
abstract class Workload(val work: Path, val seed: Long) {
  /** Extra JSON fields written beside the metrics (raw walls, inputs). */
  val detail = mutable.LinkedHashMap.empty[String, String]
  def ops: IndexedSeq[String]
  def minOps: Int = 1
  /** Operations of the warm-up pass. */
  def warmupOps: Int = ops.size
  /** Writes the seeded inputs. Not part of set-up time. */
  def prepare(spark: SparkSession): Unit
  /** One timed operation, fully materialized. Returns the untimed step
    * that computes its output signature for the check.
    */
  def run(spark: SparkSession, op: String): () => String
  /** Compares a signature with what the operation must produce. */
  def check(op: String, sig: String, warmup: Boolean): Option[String]
  /** Whether `check` compares a warm-up (or timed) output with anything;
    * one that is only taken as a reference is not counted as attempted.
    */
  def checks(warmup: Boolean): Boolean = true
  /** Metric-name prefixes of the layers this workload does not load. */
  def idleLayers: Seq[String] = Nil
  def idle(metric: String): Boolean = idleLayers.exists(metric.startsWith)
  def cleanup(op: String): Unit = ()
  def inputProps: Map[String, Double] = Map.empty
  /** Output fingerprints of the warm-up pass, by operation. */
  def references: Map[String, String] = Map.empty
  /** Per-layer metrics of a traced run, from its timed walls and probes. */
  def traced(spark: SparkSession, walls: Seq[(String, Double)], spans: Spans,
             m: mutable.Map[String, (Double, String)], checks: Checks): Unit = ()
}

object Workload {
  /** Materializes `df` with a `noop` write, the timed part of a query. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent fingerprint of a result: row count and the sum of
    * 31-bit row hashes. A second, untimed execution of the same frame.
    */
  def fingerprint(df: DataFrame): String = {
    val hash = pmod(xxhash64(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*), lit(2147483648L))
    val r = df.agg(count(lit(1)), coalesce(sum(hash), lit(0L))).head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  /** Output check shared by the fingerprinted workloads: each result must
    * equal the same operation's first warm-up result and, for the default
    * seed, the fingerprint committed in `fingerprints.json`.
    */
  final class FingerprintCheck(seed: Long, committed: Map[String, String]) {
    val warm = mutable.LinkedHashMap.empty[String, String]
    def apply(op: String, sig: String, warmup: Boolean): Option[String] = {
      if (warmup && !warm.contains(op)) warm(op) = sig
      val vsWarm = if (warm(op) != sig) Some(s"$op: $sig != warm-up ${warm(op)}") else None
      val vsCommitted =
        if (seed != Main.DefaultSeed) None
        else committed.get(op).filter(_ != sig).map(c => s"$op: $sig != committed $c")
      vsWarm.orElse(vsCommitted)
    }
    /** Only the first warm-up output of the default seed meets a reference. */
    def checks(warmup: Boolean): Boolean = !warmup || seed == Main.DefaultSeed
    /** For a result with no warm-up run: the committed fingerprint alone. */
    def committedOnly(op: String, sig: String): Option[String] =
      if (committed.get(op).contains(sig)) None
      else Some(s"$op: $sig != committed ${committed.getOrElse(op, "(none)")}")
  }
}

/** The paper's job: JSON files in the reference layout -> staging ->
  * five parquet star-schema tables, read through the README's globs.
  */
final class SparkifyElt(work: Path, seed: Long) extends Workload(work, seed) {
  val sizes = SparkifyGen.Sizes(songs = 120, days = 30, eventsPerDay = 600, users = 100)
  private val src = work.resolve("sparkify")
  private var gen: SparkifyGen.Generated = _
  private var n = 0
  def ops = IndexedSeq("elt")
  override def minOps = 5
  override def idleLayers = Seq("analytics.", "registry.", "query.", "operators.")
  // After the cold ELT the JIT is still warming Spark's own code: the
  // next seven fall from about 3.3 s to 2.2 s.
  override def warmupOps = 8

  def prepare(spark: SparkSession): Unit = gen = SparkifyGen.generate(src, seed, sizes)
  override def inputProps = gen.props

  private def readers(spark: SparkSession) =
    (Ingest.readLogEvents(spark, s"$src/log_data/*/*/*.json"),
      Ingest.readSongs(spark, s"$src/song_data/*/*/*/*.json"))

  private def out = work.resolve(s"out/elt-$n")

  private def signature(r: Pipeline.Result): String =
    if (r.failures.nonEmpty) "failed: " + r.failures.keys.toSeq.sorted.mkString(",")
    else r.counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")

  def run(spark: SparkSession, op: String): () => String = {
    n += 1
    val (events, songs) = readers(spark)
    val sig = signature(Pipeline.run(spark, events, songs, out.toString))
    () => sig
  }

  private def expected = gen.expected.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")
  def check(op: String, sig: String, warmup: Boolean) =
    if (sig == expected) None else Some(s"elt counts $sig != expected $expected")
  override def cleanup(op: String): Unit = Workload.deleteTree(out)

  /** One ELT taken apart layer by layer: discovery, scan, the full
    * `Pipeline.run` (output counters), then each transform over cached
    * staging.
    */
  override def traced(spark: SparkSession, walls: Seq[(String, Double)], spans: Spans,
                      m: mutable.Map[String, (Double, String)], checks: Checks): Unit = {
    val f0 = Layers.globals()("ingest.files_discovered")
    val ((events, songs), discover) = spans.time("ingest.discover", "probe")(readers(spark))
    m("ingest.discover_s") = (discover, "s")
    m("ingest.files_discovered") = ((Layers.globals()("ingest.files_discovered") - f0).toDouble, "count")

    val scanLayers = new Layers(spark)
    val scan = Seq(events, songs).map(df =>
      spans.time("ingest.scan", "probe")(df.write.format("noop").mode("overwrite").save())._2).sum
    val sc = scanLayers.snapshot(); scanLayers.detach()
    m("ingest.scan_s") = (scan, "s")
    m("ingest.input_bytes") = (sc.getOrElse("ingest.input_bytes", 0L).toDouble, "bytes")
    m("ingest.input_records") = (sc.getOrElse("ingest.input_records", 0L).toDouble, "count")

    n += 1
    val outLayers = new Layers(spark)
    val (res, runS) = spans.time("pipeline.run", "probe")(Pipeline.run(spark, events, songs, out.toString))
    val oc = outLayers.snapshot(); outLayers.detach()
    checks.record(check("elt", signature(res), warmup = false))
    m("pipeline.run_s") = (runS, "s")
    m("output.bytes") = (oc.getOrElse("output.bytes", 0L).toDouble, "bytes")
    m("output.rows") = (oc.getOrElse("output.rows", 0L).toDouble, "count")
    val files = Files.walk(out)
    try m("output.files") = (files.filter(p => p.getFileName.toString.startsWith("part-")).count().toDouble, "count")
    finally files.close()
    cleanup("elt")

    val se = events.cache(); val ss = songs.cache()
    Seq(se, ss).foreach(_.write.format("noop").mode("overwrite").save())
    Seq("songplays" -> Transforms.buildSongplays(se, ss), "users" -> Transforms.buildUsers(se),
      "songs" -> Transforms.buildSongs(ss), "artists" -> Transforms.buildArtists(se, ss),
      "time" -> Transforms.buildTime(se)).foreach { case (t, df) =>
      m(s"transforms.${t}_s") =
        (spans.time(s"transforms.$t", "probe")(df.write.format("noop").mode("overwrite").save())._2, "s")
    }
    se.unpersist(); ss.unpersist()
  }
}

/** The read side the star schema exists for: four `Analytics` queries on
  * a written star schema and four TPC-H-shaped registry queries, round
  * robin, each materialized with `noop`. A traced run also probes two
  * registry operator lines over the shared co-purchase graph.
  */
final class StarAnalytics(work: Path, seed: Long, committed: Map[String, String])
    extends Workload(work, seed) {
  val sizes = SparkifyGen.Sizes(songs = 150, days = 30, eventsPerDay = 400, users = 100)
  val sf = 0.005
  private val star = work.resolve("star").toString
  private val corpus = work.resolve("corpus").toString
  private var gen: SparkifyGen.Generated = _
  private val fp = new Workload.FingerprintCheck(seed, committed)
  val registry = IndexedSeq("q1_pricing", "q3_top_orders", "q5_region_volume", "q18_big_orders")
  val analytics = IndexedSeq("topSongs", "playsByTime", "userActivity", "favoriteArtist")
  val operators = IndexedSeq("graph_knn_degree", "graph_modularity")
  val ops = analytics.map("analytics." + _) ++ registry.map("registry." + _)
  override def minOps = 5 * ops.size
  override def warmupOps = 2 * ops.size
  override def idleLayers = Seq("ingest.", "transforms.", "pipeline.", "output.")

  def prepare(spark: SparkSession): Unit = {
    val src = work.resolve("sparkify-src")
    gen = SparkifyGen.generate(src, seed, sizes)
    // The two inputs are independent; building them side by side only
    // shortens the run.
    val tpch = new Thread(() => CorpusGen.generate(spark, corpus, seed, sf))
    tpch.start()
    val r = Pipeline.run(spark, Ingest.readLogEvents(spark, s"$src/log_data/*/*/*.json"),
      Ingest.readSongs(spark, s"$src/song_data/*/*/*/*.json"), star)
    tpch.join()
    require(r.failures.isEmpty, s"star schema build failed: ${r.failures.keys.mkString(",")}")
  }
  override def inputProps = gen.props ++ CorpusGen.rows(sf).map { case (k, v) => s"corpus.$k" -> v.toDouble }

  def run(spark: SparkSession, op: String): () => String = {
    def t(name: String) = spark.read.parquet(s"$star/$name")
    val df = op match {
      case "analytics.topSongs" => Analytics.topSongs(t("songplays"), t("songs"), 10)
      case "analytics.playsByTime" => Analytics.playsByTime(t("songplays"), t("time"))
      case "analytics.userActivity" => Analytics.userActivity(t("songplays"))
      case "analytics.favoriteArtist" => Analytics.favoriteArtist(t("songplays"), t("artists"))
      case q => SparkEntry.queries(q.stripPrefix("registry."))(spark, corpus)
    }
    Workload.noop(df)
    () => Workload.fingerprint(df)
  }
  def check(op: String, sig: String, warmup: Boolean) = fp(op, sig, warmup)
  override def checks(warmup: Boolean) = fp.checks(warmup)
  override def references = fp.warm.toMap

  override def traced(spark: SparkSession, walls: Seq[(String, Double)], spans: Spans,
                      m: mutable.Map[String, (Double, String)], checks: Checks): Unit = {
    ops.foreach(op => m(s"${op}_s") = (Main.median(walls.filter(_._1 == op).map(_._2)), "s"))
    val (p90, beyond) = Main.p90(walls.map(_._2))
    m("query.p90_s") = (p90.getOrElse(0.0), "s")
    m("query.p90_beyond") = (beyond.toDouble, "count")
    // Two registry operator lines over the shared co-purchase graph, as
    // graft.Bench times them: the `_derive_*` derivations they read first,
    // each as its own call on a cleared memo, then each line on the memo.
    SparkEntry.clearMemos()
    SparkEntry.drainTouchedDerivations()
    operators.foreach(q => SparkEntry.queries(q)(spark, corpus))
    val touched = SparkEntry.drainTouchedDerivations()
    SparkEntry.clearMemos()
    m("registry.derive_s") = (SparkEntry.derivations.filter(d => touched(d._1)).map { case (name, d) =>
      spans.time(name, "probe")(d(spark, corpus))._2
    }.sum, "s")
    operators.foreach { q =>
      val df = SparkEntry.queries(q)(spark, corpus)
      m(s"operators.${q}_s") = (spans.time(s"operators.$q", "probe")(Workload.noop(df))._2, "s")
      // Probed once, so only the default seed has a reference to meet.
      if (seed == Main.DefaultSeed) checks.record(fp.committedOnly(s"operators.$q", Workload.fingerprint(df)))
    }
  }
}
