package perfbench

import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import graft.operators.Lrs
import graft.sources.Synth

/** The seeded `GET /statements` mix of the lrs_read workload. A pass is a
  * fixed list of steps; a step is one query, or a keyset chain that follows
  * `nextCursor` from page 1 through page [[ChainPages]]. */
object Queries {

  val Kinds: Seq[String] = Seq("by_id", "by_verb", "by_agent", "window",
    "related_activities", "ascending", "keyset_page")
  val PerKind = 3
  val Chains = 1
  val ChainPages = 5
  val ChainLimit = 20

  final case class Step(kind: String, q: Lrs.Query, pages: Int)

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def iso(us: Long): String =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC).format(fmt)

  def parse(s: String): Long = {
    val t = LocalDateTime.parse(s, fmt)
    t.toEpochSecond(ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
  }

  def micros(ts: Timestamp): Long = Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  def pass(seed: Long, rows: IndexedSeq[Checks.Row]): Seq[Step] = {
    val rnd = new scala.util.Random(seed ^ 0x9e7L)
    def row() = rows(rnd.nextInt(rows.size))
    val verbs = rows.map(_.verb).distinct.sorted
    val categories = rows.flatMap(_.related.drop(1)).distinct.sorted
    def one(kind: String): Step = kind match {
      case "by_id" => Step(kind, Lrs.Query(statementId = Some(row().id)), 1)
      case "by_verb" => Step(kind, Lrs.Query(verb = Some(verbs(rnd.nextInt(verbs.size)))), 1)
      case "by_agent" =>
        Step(kind, Lrs.Query(agent = Some(Lrs.Agent(accountName = Some(row().actorName),
          accountHomePage = Some(Synth.PlatformUrl)))), 1)
      case "window" =>
        val since = row().tsUs
        Step(kind, Lrs.Query(since = Some(iso(since)), until = Some(iso(since + 7200L * 1000000L))), 1)
      case "related_activities" =>
        val a = if (categories.nonEmpty && rnd.nextBoolean()) categories(rnd.nextInt(categories.size))
          else row().related.head
        Step(kind, Lrs.Query(activity = Some(a), relatedActivities = true), 1)
      case "ascending" =>
        Step(kind, Lrs.Query(verb = Some(verbs(rnd.nextInt(verbs.size))), ascending = true), 1)
      case "keyset_page" =>
        Step(kind, Lrs.Query(verb = Some(verbs(rnd.nextInt(verbs.size))), limit = ChainLimit),
          ChainPages)
    }
    val singles = for (_ <- 0 until PerKind; k <- Kinds if k != "keyset_page") yield one(k)
    val chains = (0 until Chains).map(_ => one("keyset_page"))
    rnd.shuffle(singles ++ chains)
  }
}
