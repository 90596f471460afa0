package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Seeded raw Spotify payloads for the `etl_daily` workload, and the ground
  * truth of what `SpotifyPipeline` must load from them, computed in plain
  * Scala.
  *
  * Each run date lands `artist.json`, `album.json` and `track.json` as
  * newline-delimited records in the reference's raw shapes. Album and track
  * ids repeat within a date with different payloads, so first-wins dedup
  * decides the loaded row; a repeated id keeps its name and artists, so the
  * bridge rows do not depend on which duplicate a dedup keeps. Some records
  * miss optional fields or carry an artist without an id. */
object Etl {
  val Entities: Seq[String] = Seq("artist", "album", "album_artists", "track", "track_artists")

  /** Sizes per run date. */
  final case class Spec(dates: Seq[String], artists: Int, albums: Int, tracks: Int)

  /** Expected rows per (date, entity), each row rendered by [[render]]. */
  type Truth = Map[(String, String), Seq[String]]

  /** A row as one comparable string: fields in schema order, nulls marked. */
  def render(fields: Seq[Any]): String =
    fields.map(f => if (f == null) "\u0000" else f.toString).mkString("\u0001")

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Writes every date's raw files under `dir/<date>/` and returns the
    * ground truth and the number of bytes written. */
  def generate(spec: Spec, seed: Long, dir: Path): (Truth, Long) = {
    val truth = mutable.Map.empty[(String, String), Seq[String]]
    var bytes = 0L
    val artistPool = spec.artists * 4
    def artistName(a: Int): String = if (a % 17 == 0) s"Artist É $a" else s"Artist \"$a\""
    spec.dates.zipWithIndex.foreach { case (date, di) =>
      val rnd = new scala.util.Random(new java.util.SplittableRandom(seed).split().nextLong() + di)
      val day = dir.resolve(date)
      Files.createDirectories(day)
      def write(name: String, lines: Seq[String]): Unit = {
        val data = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
        Files.write(day.resolve(s"$name.json"), data)
        bytes += data.length
      }
      def artistsJson(ids: Seq[Option[Int]]): String = ids.map {
        case Some(a) => s"""{"id":"ar$a","name":${q(artistName(a))}}"""
        case None => """{"name":"Unknown"}"""
      }.mkString("[", ",", "]")
      // A fixed artist list per album / track id: 1-3 artists, one in 25
      // lists also carries an artist without an id.
      def creditsOf(key: Long): Seq[Option[Int]] = {
        val r = new scala.util.Random(new java.util.SplittableRandom(seed ^ key).nextLong())
        val n = 1 + r.nextInt(3)
        val ids = Seq.fill(n)(Some(r.nextInt(artistPool)))
        if (r.nextInt(25) == 0) ids :+ None else ids
      }
      def bridge(id: String, name: String, credits: Seq[Option[Int]], artistFirst: Boolean): Seq[String] =
        credits.flatten.distinct.map { a =>
          if (artistFirst) render(Seq(s"ar$a", artistName(a), id, name))
          else render(Seq(id, name, s"ar$a", artistName(a)))
        }

      val artistRows = Seq.fill(spec.artists) {
        val a = rnd.nextInt(artistPool)
        val followers = if (rnd.nextInt(50) == 0) None else Some(rnd.nextInt(5000000).toLong)
        val popularity = if (rnd.nextInt(100) == 0) None else Some(rnd.nextInt(101).toLong)
        val json = Seq(Some(s""""id":"ar$a""""), Some(s""""name":${q(artistName(a))}"""),
          followers.map(f => s""""followers":{"href":null,"total":$f}"""),
          popularity.map(p => s""""popularity":$p""")).flatten.mkString("{", ",", "}")
        (json, render(Seq(s"ar$a", artistName(a), followers.orNull, popularity.orNull)))
      }
      write("artist", artistRows.map(_._1))
      truth((date, "artist")) = artistRows.map(_._2)

      def dated(r: scala.util.Random): String = r.nextInt(3) match {
        case 0 => f"${1990 + r.nextInt(35)}"
        case 1 => f"${1990 + r.nextInt(35)}-${1 + r.nextInt(12)}%02d"
        case _ => f"${1990 + r.nextInt(35)}-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
      }
      val albumFirst = mutable.LinkedHashMap.empty[String, String]
      val albumBridge = mutable.LinkedHashSet.empty[String]
      val albumLines = Seq.fill(spec.albums) {
        val n = rnd.nextInt(spec.albums * 9 / 10)
        val id = s"al$di-$n"
        val name = s"Album $n of $date"
        val credits = creditsOf(1L << 40 | di.toLong << 32 | n)
        val release = dated(rnd)
        val kind = Seq("album", "single", "compilation")(rnd.nextInt(3))
        val total = 1 + rnd.nextInt(30)
        val group = if (rnd.nextInt(10) == 0) None else Some(Seq("album", "single", "appears_on")(rnd.nextInt(3)))
        albumFirst.getOrElseUpdate(id,
          render(Seq(id, name, release, kind, total.toLong, group.orNull)))
        albumBridge ++= bridge(id, name, credits, artistFirst = true)
        Seq(Some(s""""id":"$id""""), Some(s""""name":${q(name)}"""),
          Some(s""""release_date":"$release""""), Some(s""""album_type":"$kind""""),
          Some(s""""total_tracks":$total"""), group.map(g => s""""album_group":"$g""""),
          Some(s""""artists":${artistsJson(credits)}""")).flatten.mkString("{", ",", "}")
      }
      write("album", albumLines)
      truth((date, "album")) = albumFirst.values.toSeq
      truth((date, "album_artists")) = albumBridge.toSeq

      val trackFirst = mutable.LinkedHashMap.empty[String, String]
      val trackBridge = mutable.LinkedHashSet.empty[String]
      val trackLines = Seq.fill(spec.tracks) {
        val n = rnd.nextInt(spec.tracks * 9 / 10)
        val id = s"tr$di-$n"
        val name = s"Track $n"
        val credits = creditsOf(2L << 40 | di.toLong << 32 | n)
        val number = 1 + rnd.nextInt(20)
        val duration = 60000 + rnd.nextInt(360000)
        trackFirst.getOrElseUpdate(id, render(Seq(id, name, number.toLong, duration.toLong)))
        trackBridge ++= bridge(id, name, credits, artistFirst = false)
        s"""{"id":"$id","name":${q(name)},"track_number":$number,"duration_ms":$duration,"artists":${artistsJson(credits)}}"""
      }
      write("track", trackLines)
      truth((date, "track")) = trackFirst.values.toSeq
      truth((date, "track_artists")) = trackBridge.toSeq
    }
    (truth.toMap, bytes)
  }
}
