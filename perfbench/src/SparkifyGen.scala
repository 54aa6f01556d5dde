package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.{Locale, SplittableRandom}
import scala.collection.mutable

/** Seeded Sparkify source generator in the reference's S3 layout:
  *
  *  - `song_data/X/Y/Z/TRXYZ....json`: one song object per file, where
  *    X/Y/Z are the 3rd-5th characters of the track id (the reference's
  *    `song_data/A/A/A/TRAAAEF128F4273421.json` shape);
  *  - `log_data/2018/11/2018-11-DD-events.json`: one file per day, one
  *    event object per line.
  *
  * Everything is drawn from one `SplittableRandom(seed)` in a fixed order
  * and formatted with `Locale.ROOT`, so a seed gives byte-identical files.
  * The generator also simulates the five `Pipeline.run` outputs, so the
  * expected row counts are exact, including the verbatim (not
  * deduplicated) `users` and `artists` rows.
  */
object SparkifyGen {

  final case class Sizes(songs: Int, days: Int, eventsPerDay: Int, users: Int)

  // Input properties the ELT's cost depends on, set from the reference
  // corpus's published figures (perfbench/README.md, "Input properties",
  // gives each source): songs per artist; the NextSong share of events
  // with a user id; the share of NextSong events that match a song, raised
  // on purpose from the corpus's ~0.05 so that songplays and the
  // favoriteArtist fan-out carry load; the `year = 0` share of songs; the
  // empty-userId share.
  private val songsPerArtist = 1.5
  private val nextSongFrac = 0.88
  private val matchFrac = 0.6
  private val year0Frac = 0.48
  private val emptyUserFrac = 0.035

  /** Exact expected `Pipeline.run` counts plus the input properties. */
  final case class Generated(expected: Map[String, Long], props: Map[String, Double])

  private val pages = Array("Home", "Logout", "Login", "Settings", "About", "Help", "Upgrade")
  private val words = Array("Blue", "Night", "River", "Echo", "Stone", "Fire", "Glass",
    "Paper", "Silver", "Rain", "Dust", "Light", "Shadow", "Crown", "Ghost", "Velvet")
  private val agents = Array("Mozilla/5.0 (Windows NT 6.1)", "Mozilla/5.0 (Macintosh)",
    "Mozilla/5.0 (X11; Linux x86_64)")
  private val cities = Array("Atlanta, GA", "Boston, MA", "Chicago, IL", "Denver, CO",
    "Seattle, WA", "Austin, TX")
  private val letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
  private val dayMillis = 86400000L
  // 2018-11-01T00:00:00Z, the first day of the reference's log_data.
  private val nov1 = 1541030400000L

  private final case class Song(trackId: String, songId: String, artistId: String,
                                artistName: String, title: String, duration: String)

  private def id(r: SplittableRandom, prefix: String, n: Int): String = {
    val sb = new StringBuilder(prefix)
    (0 until n).foreach(_ => sb += letters.charAt(r.nextInt(letters.length)))
    sb.toString
  }

  private def q(s: String): String =
    if (s == null) "null"
    else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }

  def generate(root: Path, seed: Long, z: Sizes): Generated = {
    val r = new SplittableRandom(seed)
    val nArtists = math.max(1, math.round(z.songs / songsPerArtist).toInt)
    val artists = (0 until nArtists).map { a =>
      val lat = if (r.nextInt(3) == 0) "null" else "%.5f".formatLocal(Locale.ROOT, r.nextDouble(-60, 60))
      val lon = if (lat == "null") "null" else "%.5f".formatLocal(Locale.ROOT, r.nextDouble(-150, 150))
      (id(r, "AR", 16), s"${words(r.nextInt(words.length))} Artist $a", cities(r.nextInt(cities.length)), lat, lon)
    }
    var year0 = 0
    val songs = (0 until z.songs).map { i =>
      val (aid, aname, aloc, lat, lon) = artists(r.nextInt(nArtists))
      val trackId = id(r, "TR", 16)
      val title = s"${words(r.nextInt(words.length))} ${words(r.nextInt(words.length))} $i"
      val duration = "%.5f".formatLocal(Locale.ROOT, r.nextDouble(60, 600))
      val year = if (r.nextDouble() < year0Frac) { year0 += 1; 0 } else 1960 + r.nextInt(60)
      val s = Song(trackId, id(r, "SO", 16), aid, aname, title, duration)
      write(root.resolve(s"song_data/${trackId.substring(2, 5).toCharArray.mkString("/")}/$trackId.json"),
        s"""{"num_songs":1,"artist_id":${q(aid)},"artist_latitude":$lat,"artist_longitude":$lon,""" +
        s""""artist_location":${q(aloc)},"artist_name":${q(aname)},"song_id":${q(s.songId)},""" +
        s""""title":${q(title)},"duration":$duration,"year":$year}""")
      s
    }
    // Join multiplicities the transforms see: songplays joins on
    // (title, artist_name, duration), artists on (title, artist_name).
    val byTriple = songs.groupBy(s => (s.title, s.artistName, s.duration)).map { case (k, v) => k -> v.size }
    val byPair = songs.groupBy(s => (s.title, s.artistName)).map { case (k, v) => k -> v.map(_.artistId) }

    val users = (0 until z.users).map { u =>
      (s"${u + 1}", s"First$u", s"Last$u", if (r.nextBoolean()) "M" else "F",
        if (r.nextInt(4) == 0) "paid" else "free", cities(r.nextInt(cities.length)),
        agents(r.nextInt(agents.length)), nov1 - 1000L * r.nextInt(10000000))
    }
    val distinctTs = mutable.HashSet.empty[Long]
    val playsPerArtist = mutable.HashMap.empty[String, Long]   // songplays rows per artist_id
    val artistRowsPer = mutable.HashMap.empty[String, Long]    // artists rows per artist_id
    var events, nextSong, matched, songplays, artistRows, emptyUser = 0L
    (1 to z.days).foreach { d =>
      val ts = Array.fill(z.eventsPerDay)(nov1 + (d - 1) * dayMillis + r.nextLong(dayMillis)).sorted
      val sb = new StringBuilder
      ts.zipWithIndex.foreach { case (t, k) =>
        val anon = r.nextDouble() < emptyUserFrac
        val (uid, first, last, gender, level, loc, agent, reg) = users(r.nextInt(users.size))
        val isNext = !anon && r.nextDouble() < nextSongFrac
        val (artist, song, length) =
          if (!isNext) ("null", "null", "null")
          else if (r.nextDouble() < matchFrac) {
            val s = songs(r.nextInt(songs.size))
            (q(s.artistName), q(s.title), s.duration)
          } else {
            // A miss: a real title and artist with a length no song has,
            // so it reaches the join and fails only on duration.
            val s = songs(r.nextInt(songs.size))
            (q(s.artistName), q(s.title), "%.5f".formatLocal(Locale.ROOT, 700 + r.nextDouble(100)))
          }
        sb.append(s"""{"artist":$artist,"auth":${q(if (anon) "Logged Out" else "Logged In")},""")
          .append(s""""firstName":${if (anon) "null" else q(first)},"gender":${if (anon) "null" else q(gender)},""")
          .append(s""""itemInSession":${k % 50},"lastName":${if (anon) "null" else q(last)},"length":$length,""")
          .append(s""""level":${q(level)},"location":${if (anon) "null" else q(loc)},""")
          .append(s""""method":${q(if (isNext) "PUT" else "GET")},"page":${q(if (isNext) "NextSong" else pages(r.nextInt(pages.length)))},""")
          .append(s""""registration":${if (anon) "null" else reg.toString},"sessionId":${(d * 1000) + r.nextInt(500)},""")
          .append(s""""song":$song,"status":200,"ts":$t,"userAgent":${q(agent)},"userId":${q(if (anon) "" else uid)}}""")
          .append('\n')
        events += 1
        if (anon) emptyUser += 1
        distinctTs += t
        if (isNext) {
          nextSong += 1
          val unq = (x: String) => x.substring(1, x.length - 1)
          val key = (unq(song), unq(artist))
          val m = byTriple.getOrElse((key._1, key._2, length), 0)
          if (m > 0) matched += 1
          songplays += m
          byPair.getOrElse(key, Nil).foreach { aid =>
            artistRows += 1
            artistRowsPer(aid) = artistRowsPer.getOrElse(aid, 0L) + 1
          }
          if (m > 0) byPair(key).foreach { aid =>
            playsPerArtist(aid) = playsPerArtist.getOrElse(aid, 0L) + 1
          }
        }
      }
      write(root.resolve(f"log_data/2018/11/2018-11-$d%02d-events.json"), sb.toString)
    }
    // favoriteArtist joins songplays to the verbatim artists dimension on
    // artist_id: every play of an artist meets every artists row of it.
    val fanout = playsPerArtist.map { case (a, p) => p * artistRowsPer.getOrElse(a, 0L) }.sum
    val plays = playsPerArtist.values
    Generated(
      expected = Map("songplays" -> songplays, "users" -> events, "songs" -> z.songs.toLong,
        "artists" -> artistRows, "time" -> distinctTs.size.toLong),
      props = Map(
        "song_files" -> z.songs.toDouble, "files_per_song" -> 1.0,
        "songs_per_artist" -> z.songs.toDouble / nArtists,
        "log_files" -> z.days.toDouble, "events" -> events.toDouble,
        "next_song_events" -> nextSong.toDouble,
        "match_frac" -> (if (nextSong == 0) 0.0 else matched.toDouble / nextSong),
        "year0_share" -> year0.toDouble / z.songs,
        "empty_user_id_share" -> emptyUser.toDouble / events,
        "plays_per_artist_mean" -> (if (plays.isEmpty) 0.0 else plays.sum.toDouble / plays.size),
        "plays_per_artist_max" -> (if (plays.isEmpty) 0.0 else plays.max.toDouble),
        "favorite_artist_join_rows" -> fanout.toDouble))
  }
}
