package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.etl.{Ingest, Pipeline}

/** Self-tests of the benchmark's own parts, run by `perfbench/selftest.py`:
  * the generator's determinism and exact expected counts, and the rule
  * that a tail percentile is reported only with ten samples beyond it.
  *
  *   SelfTest <work dir>
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  /** Relative path -> file bytes, for every file under `root`. */
  private def tree(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val z = SparkifyGen.Sizes(songs = 30, days = 3, eventsPerDay = 200, users = 10)
    val a = SparkifyGen.generate(work.resolve("a"), 7, z)
    SparkifyGen.generate(work.resolve("b"), 7, z)
    SparkifyGen.generate(work.resolve("c"), 8, z)
    check("same seed gives byte-identical source files")(tree(work.resolve("a")) == tree(work.resolve("b")))
    check("another seed gives different source files")(tree(work.resolve("a")) != tree(work.resolve("c")))
    check("reference layout: one file per song under song_data/X/Y/Z, one per day under log_data/2018/11") {
      val t = tree(work.resolve("a")).keys
      t.count(_.matches("song_data/[A-Z]/[A-Z]/[A-Z]/TR[A-Z]{16}\\.json")) == z.songs &&
        t.count(_.matches("log_data/2018/11/2018-11-0[1-3]-events\\.json")) == z.days
    }

    val spark = Main.session(2, work)
    try {
      val src = work.resolve("a")
      val out = work.resolve("out").toString
      val r = Pipeline.run(spark, Ingest.readLogEvents(spark, s"$src/log_data/*/*/*.json"),
        Ingest.readSongs(spark, s"$src/song_data/*/*/*/*.json"), out)
      check(s"expected counts ${a.expected} equal Pipeline.run's ${r.counts}")(
        r.failures.isEmpty && r.counts == a.expected)
      check("favorite_artist_join_rows equals the songplays x artists join") {
        spark.read.parquet(s"$out/songplays").join(spark.read.parquet(s"$out/artists"), "artist_id")
          .count() == a.props("favorite_artist_join_rows").toLong
      }
      check("the generated TPC-H tables repeat exactly for a seed and differ for another") {
        Seq(("x", 5L), ("y", 5L), ("z", 6L)).foreach { case (d, s) =>
          CorpusGen.generate(spark, work.resolve(d).toString, s, 0.001)
        }
        def fp(d: String) = Workload.fingerprint(spark.read.parquet(work.resolve(s"$d/lineitem.parquet").toString))
        fp("x") == fp("y") && fp("x") != fp("z")
      }
    } finally spark.stop()

    check("p90 is withheld with 9 samples beyond it")(Main.p90(Seq.tabulate(90)(_.toDouble))._1.isEmpty)
    check("p90 is reported with 10 samples beyond it")(Main.p90(Seq.tabulate(100)(_.toDouble))._1.isDefined)
    check("p90 is withheld when no sample lies beyond it")(Main.p90(Seq.fill(200)(1.0))._1.isEmpty)

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
