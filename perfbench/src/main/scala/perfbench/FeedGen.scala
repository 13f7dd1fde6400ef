package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit
import java.util.Locale

import scala.util.Random

/** Seeded RSS traffic with its ground truth.
  *
  * Each feed is a sliding window of its newest [[EntriesPerFeed]] items,
  * so a poll round re-shows [[RepollShare]] of the previous round's GUIDs
  * and adds the rest as new ones. Titles carry [[NamesPerTitle]]
  * capitalized actor names, at most one role keyword and at most one
  * category keyword; every other word is lowercase from a fixed
  * vocabulary. That lets the expected
  * `actors` rows be written down from the generator's own choices, never
  * by calling the analyzer. Publish times advance one hour per round (with
  * up to three hours of jitter backwards), so a run stays well inside the
  * streaming pipeline's 7-day watermark. Dates use every RFC-822 form
  * `Ingest.parsePublished` accepts: zone name or numeric offset, with or
  * without seconds, with a one- or two-digit day.
  */
final class FeedGen(seed: Long) {
  import FeedGen._

  private val rnd = new Random(seed)
  private val base: Instant = Instant.parse("2024-03-01T00:00:00Z")
    .plus(rnd.nextInt(25).toLong, ChronoUnit.DAYS)
  private val items = Array.fill(Feeds.size)(Vector.empty[Article])
  private var serial = 0L
  private var round = 0

  /** Every article generated so far, by GUID. */
  val truth = scala.collection.mutable.LinkedHashMap.empty[String, Article]

  /** The first day of traffic (UTC). */
  def firstDay: java.time.LocalDate = base.atZone(ZoneOffset.UTC).toLocalDate

  /** Advance one poll round; returns each feed's visible window and the
    * GUIDs that are new this round. */
  def nextRound(): Round = {
    val fresh = Vector.newBuilder[String]
    val windows = Feeds.indices.map { f =>
      val n = if (round == 0) EntriesPerFeed else NewPerRound
      val added = (0 until n).map(_ => article(Feeds(f)))
      added.foreach { a => truth(a.guid) = a; fresh += a.guid }
      items(f) = (items(f) ++ added).takeRight(EntriesPerFeed)
      Feeds(f) -> items(f)
    }
    round += 1
    Round(round - 1, windows, fresh.result())
  }

  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))

  private def article(feed: String): Article = {
    serial += 1
    val guid = f"${feed.toLowerCase}-$seed%d-$serial%06d"
    val nNames = pick(NamesPerTitle)
    val names = Seq.fill(nNames)(s"${pick(FirstNames)} ${pick(LastNames)}").distinct
    val role = if (rnd.nextDouble() < RoleShare) Some(pick(RoleKeywords.map(_._1))) else None
    val cat = if (rnd.nextDouble() < CategoryShare) Some(pick(CategoryKeywords)) else None
    val lead = Seq.fill(2 + rnd.nextInt(3))(pick(Vocabulary))
    val title = (names match {
      case Seq() => lead
      case ns => ns.mkString(" and ").split(' ').toSeq ++ lead
    }) ++ role.toSeq.flatMap(r => Seq("with", "the", r)) ++
      cat.toSeq.flatMap(c => Seq("over", c))
    val desc = Seq.fill(10 + rnd.nextInt(16))(pick(Vocabulary))
    val at = base.plus(round.toLong, ChronoUnit.HOURS)
      .minusSeconds(rnd.nextInt(3 * 3600).toLong)
    val form = DateForms(rnd.nextInt(DateForms.size))
    val published = if (form.seconds) at else at.truncatedTo(ChronoUnit.MINUTES)
    val a = Article(guid, title.mkString(" "), desc.mkString(" "),
      s"https://news.example/${feed.toLowerCase}/$serial", feed,
      if (rnd.nextInt(10) < 7) Some(s"https://img.example/$serial.jpg") else None,
      published, form.render(at), names,
      role.map(r => RoleKeywords.toMap.apply(r)).getOrElse("unknown"), round)
    checkKeywords(a, role.toSeq ++ cat.toSeq)
    a
  }
}

/** The traffic's dimensions. Feed size follows the reference: five feeds
  * whose publisher caps each at about 25-50 items. Half of each poll
  * re-shows items seen before, midway between polling so rarely that
  * items are missed and so often that a poll brings nothing new.
  * Names per title and the keyword shares have no counterpart there (an
  * LLM does the analysis), so each is a uniform choice that gives every
  * branch of `RuleBasedAnalyzer` the same share: no name (no analysis),
  * one (main actor only), two or three (main and other actors); keyword
  * or none ("unknown" role, "Others" category). */
object FeedGen {
  val EntriesPerFeed = 40
  val RepollShare = 0.5
  val NewPerRound: Int = math.round(EntriesPerFeed * (1 - RepollShare)).toInt
  val RoleShare = 0.5
  val CategoryShare = 0.5

  /** Feed names; ingest stores each as the article's `category`. */
  val Feeds: IndexedSeq[String] =
    Vector("Business", "Health", "Politics", "Science", "Technology")

  /** Actors per title, drawn uniformly (a title without names makes the
    * analyzer return None). */
  val NamesPerTitle: IndexedSeq[Int] = Vector(0, 1, 2, 3)

  /** The analyzer's role dictionary, in its lookup order. */
  val RoleKeywords: IndexedSeq[(String, String)] = Vector(
    "minister" -> "politician", "president" -> "politician",
    "ceo" -> "executive", "chief" -> "executive",
    "police" -> "authority", "court" -> "authority",
    "reporter" -> "journalist")
  val CategoryKeywords: IndexedSeq[String] = Vector(
    "election", "protest", "parliament", "launch", "unveil", "product",
    "resign", "appoint", "successor", "housing", "rent", "mortgage")

  val FirstNames: IndexedSeq[String] = Vector("Maria", "Chen", "Amara", "Lukas",
    "Priya", "Tomas", "Ingrid", "Kofi", "Sofia", "Mateo", "Hana", "Omar",
    "Elena", "Bbc", "Yusuf", "Greta", "Ravi", "Lena", "Diego", "Nadia")
  val LastNames: IndexedSeq[String] = Vector("Lopez", "Wei", "Okafor", "Novak",
    "Sharma", "Berg", "Mensah", "Rossi", "Silva", "Tanaka", "Haddad", "Petrov",
    "Verify", "Kowalski", "Nilsson", "Ibrahim", "Moreau", "Santos")
  val Vocabulary: IndexedSeq[String] = Vector("talks", "plans", "market",
    "shares", "today", "after", "before", "new", "report", "says", "data",
    "study", "growth", "budget", "energy", "city", "water", "health",
    "school", "teams", "trade", "deal", "prices", "rise", "fall", "week",
    "year", "local", "global", "review", "update", "record", "talk", "vote",
    "board", "leaders", "experts", "visit", "meeting", "results", "survey",
    "climate", "transport", "network", "security", "science", "funding",
    "research", "doctors", "patients", "software", "chips", "banks", "farm")

  /** Every word the generator can emit, lowercased, against every keyword
    * the analyzer looks for: a keyword inside another word ("rent" in
    * "current") would silently change the expected role. Checked once. */
  private val keywords = RoleKeywords.map(_._1) ++ CategoryKeywords
  locally {
    val words = (Vocabulary ++ FirstNames ++ LastNames ++ Seq("and", "with", "the", "over"))
      .map(_.toLowerCase)
    val clash = for (w <- words; k <- keywords if w.contains(k)) yield s"$w~$k"
    require(clash.isEmpty, s"generator vocabulary contains analyzer keywords: $clash")
    require(keywords.forall(k => keywords.forall(o => o == k || !o.contains(k))),
      "analyzer keywords overlap")
  }

  /** Exactly the chosen keywords occur in the text. */
  private def checkKeywords(a: Article, chosen: Seq[String]): Unit = {
    val text = s"${a.title}\n${a.description}".toLowerCase
    val present = keywords.filter(text.contains)
    require(present.toSet == chosen.toSet,
      s"keyword leak in ${a.guid}: wanted $chosen, text has $present")
  }

  final case class DateForm(pattern: String, seconds: Boolean) {
    private val fmt = DateTimeFormatter.ofPattern(pattern, Locale.US).withZone(ZoneOffset.UTC)
    def render(t: Instant): String = fmt.format(t)
  }
  /** The RFC-822 forms `Ingest.parsePublished` accepts. */
  val DateForms: IndexedSeq[DateForm] = Vector(
    DateForm("EEE, d MMM yyyy HH:mm:ss 'GMT'", seconds = true),
    DateForm("EEE, dd MMM yyyy HH:mm:ss '+0000'", seconds = true),
    DateForm("EEE, d MMM yyyy HH:mm 'GMT'", seconds = false),
    DateForm("EEE, dd MMM yyyy HH:mm '+0000'", seconds = false))

  final case class Article(guid: String, title: String, description: String,
      link: String, feed: String, thumbnail: Option[String],
      published: Instant, publishedText: String,
      actors: Seq[String], role: String, round: Int) {
    /** Expected `actors` rows: (news_id, actor_name, actor_role, is_main). */
    def actorRows: Seq[(String, String, String, Boolean)] =
      actors.zipWithIndex.map { case (n, i) => (guid, n, role, i == 0) }
  }

  final case class Round(index: Int, windows: Seq[(String, Vector[Article])],
      newGuids: Vector[String])

  /** Writes each feed's window as an RSS 2.0 document; returns file URLs. */
  def writeRss(dir: Path, round: Round): Seq[(String, String)] = {
    Files.createDirectories(dir)
    round.windows.map { case (feed, arts) =>
      val items = arts.map { a =>
        val thumb = a.thumbnail.map(u => s"""<media:thumbnail url="$u"/>""").getOrElse("")
        s"<item><title>${a.title}</title><link>${a.link}</link>" +
          s"<description>${a.description}</description><guid>${a.guid}</guid>" +
          s"<pubDate>${a.publishedText}</pubDate>$thumb</item>"
      }.mkString("\n")
      val xml = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<rss version=\"2.0\" xmlns:media=\"http://search.yahoo.com/mrss/\">" +
        s"<channel><title>$feed</title>\n$items\n</channel></rss>\n"
      val p = dir.resolve(s"${feed.toLowerCase}-r${round.index}.xml")
      Files.write(p, xml.getBytes(StandardCharsets.UTF_8))
      p.toUri.toString -> feed
    }
  }
}
