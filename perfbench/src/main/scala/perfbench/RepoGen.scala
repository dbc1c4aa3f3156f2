package perfbench

import java.time.LocalDate

import graft.pipeline.RuleClassifier

/** The input properties of a pipeline workload.
  *
  * @param batchSize     repositories per micro-batch
  * @param reseenShare   share of each batch (after the first) whose ids
  *                      were in the previous batch and come back with new
  *                      star counts; the rest are new ids
  * @param ruleShare     share of repositories with topics whose topics hit
  *                      a `RuleClassifier` rule (the rest fall back to the
  *                      language or to "Other")
  * @param descLength    characters of description text per repository
  * @param nullShare     share of repositories sent with a null
  *                      description; independently, the same share with a
  *                      null language and with null topics
  * @param warmup        untimed batches first: the initial load into the
  *                      empty catalog, then merges
  * @param batches       timed batches per pass
  */
final case class PipelineSpec(batchSize: Int, reseenShare: Double,
    ruleShare: Double, descLength: Int, nullShare: Double, warmup: Int, batches: Int)

/** Deterministic GitHub-API-shaped repositories (`Schemas.apiRepo`).
  * Every value is a pure function of (seed, batch, id): the same
  * seed gives byte-identical batches. A repository keeps its name,
  * topics and language across batches; its star count grows. */
final class RepoGen(spec: PipelineSpec, seed: Long) {
  import RepoGen._

  private val reseen = math.round(spec.batchSize * spec.reseenShare).toInt
  private val fresh = spec.batchSize - reseen

  /** Ids of batch `b`, in the order they are sent: a window that slides
    * by the new ids, so it keeps `reseen` ids of the previous batch. */
  def ids(b: Int): Array[Long] = {
    val first = 1L + b.toLong * fresh
    new scala.util.Random(mix(seed, b.toLong, 1L))
      .shuffle((first until first + spec.batchSize).toVector).toArray
  }

  /** The star count repository `id` reports in batch `b`. */
  def stars(b: Int, id: Long): Long = {
    val h = mix(seed, id, 2L)
    1000L + (h & 0xffffL) + b.toLong * (1L + ((h >>> 16) & 0x3fL))
  }

  def processingDate(b: Int): String = Epoch.plusDays(b.toLong).toString

  /** Whether repository `id` carries a topic that hits a rule. */
  def hitsRule(id: Long): Boolean =
    unit(mix(seed, id, 3L)) < spec.ruleShare

  /** Whether repository `id` sends `field` as null. */
  def isNull(id: Long, field: String): Boolean =
    unit(mix(seed, id, 5L, field.hashCode.toLong)) < spec.nullShare

  def json(b: Int, id: Long): String = {
    val h = mix(seed, id, 4L)
    def pick[A](xs: Seq[A], salt: Int): A = xs(((h >>> salt) & 0xffff).toInt % xs.size)
    val language = pick(Languages, 0)
    val generic = Seq(pick(GenericTopics, 8), pick(GenericTopics, 24))
    val topics =
      if (isNull(id, "topics")) "null"
      else ((if (hitsRule(id)) Seq(pick(RuleKeywords, 16)) else Nil) ++ generic)
        .map(t => s""""$t"""").mkString("[", ",", "]")
    def quoted(field: String, value: => String): String =
      if (isNull(id, field)) "null" else "\"" + value + "\""
    val stars = this.stars(b, id)
    val created = Epoch.minusDays(30L + (h >>> 40) % 3000L)
    val pushed = Epoch.plusDays(b.toLong).minusDays((h >>> 50) % 400L)
    val license = pick(Licenses, 32)
    val sb = new StringBuilder(spec.descLength + 600)
    sb.append("{\"id\":").append(id)
      .append(",\"name\":\"repo-").append(id)
      .append("\",\"full_name\":\"owner").append(id % 997).append("/repo-").append(id)
      .append("\",\"description\":").append(quoted("description", description(h)))
      .append(",\"owner\":{\"login\":\"owner").append(id % 997)
      .append("\",\"type\":\"").append(if (id % 3 == 0) "Organization" else "User")
      .append("\"},\"license\":")
      .append(if (license.isEmpty) "null" else s"""{"name":"$license"}""")
      .append(",\"stargazers_count\":").append(stars)
      .append(",\"forks_count\":").append(stars / 7)
      .append(",\"watchers_count\":").append(stars)
      .append(",\"open_issues_count\":").append((h >>> 20) % 200)
      .append(",\"size\":").append(1 + (h >>> 12) % 50000)
      .append(",\"default_branch\":\"main\",\"language\":").append(quoted("language", language))
      .append(",\"topics\":").append(topics)
      .append(",\"created_at\":\"").append(created).append("T08:00:00Z\"")
      .append(",\"updated_at\":\"").append(pushed).append("T09:30:00Z\"")
      .append(",\"pushed_at\":\"").append(pushed).append("T09:30:00Z\"")
      .append(",\"has_wiki\":").append((h & 1L) == 0L)
      .append(",\"has_pages\":").append((h & 2L) == 0L)
      .append(",\"archived\":false,\"disabled\":false}")
    sb.toString
  }

  def batch(b: Int): Seq[String] = ids(b).toSeq.map(json(b, _))

  /** Markdown-flavoured text of exactly `descLength` characters, with the
    * image and link syntax the silver cleaner strips. */
  private def description(h: Long): String = {
    val sb = new StringBuilder
    var i = 0
    while (sb.length < spec.descLength) {
      sb.append(Words(Math.floorMod((h >>> (i % 48)) + i, Words.size.toLong).toInt)).append(' ')
      if (i % 11 == 5) sb.append("[docs](https://example.org/d) ")
      if (i % 17 == 9) sb.append("![badge](https://example.org/b.svg) ")
      i += 1
    }
    sb.substring(0, spec.descLength)
  }
}

object RepoGen {
  val Epoch: LocalDate = LocalDate.of(2024, 6, 1)

  val Languages: Seq[String] = Seq("Python", "Scala", "Go", "TypeScript",
    "JavaScript", "Rust", "C", "C++", "Java", "Ruby", "Kotlin", "Haskell")

  /** Every keyword of every classifier rule. */
  val RuleKeywords: Seq[String] = RuleClassifier.rules.flatMap(_._3)

  /** Topics that hit no rule. */
  val GenericTopics: Seq[String] = Seq("awesome", "library", "tool", "cli",
    "framework", "api", "sdk", "tutorial", "plugin", "parser", "benchmark",
    "testing").filterNot(RuleKeywords.contains)

  private val Words = Seq("fast", "simple", "open", "source", "toolkit",
    "for", "building", "modern", "scalable", "services", "with", "a", "clean",
    "interface", "and", "batteries", "included")

  private val Licenses = Seq("MIT License", "Apache License 2.0",
    "GNU General Public License v3.0", "BSD 3-Clause License", "")

  /** SplitMix64 finaliser over the combined inputs. */
  def mix(xs: Long*): Long = xs.foldLeft(0x9e3779b97f4a7c15L) { (acc, x) =>
    var z = acc ^ (x + 0x9e3779b97f4a7c15L + (acc << 6) + (acc >>> 2))
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

}
