package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType

/** robots.txt kernel (RFC 9309, the Robots Exclusion Protocol) — the
  * POLITENESS decision a crawl frontier makes before every fetch, and
  * the companion of the q338/q341 ingestion legs: group selection (a
  * named product token beats the `*` group, and ONLY the selected
  * group's rules apply — star rules are NOT inherited), longest-match
  * rule resolution with allow winning ties, `*` wildcards and the `$`
  * end anchor in rule paths, `#` comments, case-insensitive field
  * names, and the protocol's failure posture: a file that parses to no
  * groups (an HTML error page, say) means ALLOW — the REP default is
  * permissive, a deliberate and documented contrast with the container
  * walks' fail-loud posture (an unreadable shard poisons counts; an
  * unreadable robots.txt just forfeits the site's preferences).
  *
  * `Crawl-delay` is parsed per group (non-standard but universally
  * emitted); integer seconds only, -1 when absent.
  */
object RobotsKernel {

  private case class Group(agents: List[String], allows: List[(Boolean, String)],
    delay: Long)

  /** Greedy leftmost wildcard match of a rule pattern against a path:
    * `*` spans any octets, a trailing `$` anchors the end. */
  private[graft] def patternMatches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val pat = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val parts = pat.split("\\*", -1)
    if (!path.startsWith(parts(0))) return false
    var idx = parts(0).length
    if (parts.length == 1) return !anchored || idx == path.length
    var k = 1
    while (k < parts.length) {
      val p = parts(k)
      if (k == parts.length - 1 && anchored) {
        return path.endsWith(p) && path.length - p.length >= idx
      }
      val at = path.indexOf(p, idx)
      if (at < 0) return false
      idx = at + p.length
      k += 1
    }
    true
  }

  private def parse(txt: String): List[Group] = {
    var groups = List.empty[Group]
    var current: Group = null
    var inAgents = false
    txt.split("\r?\n", -1).foreach { raw =>
      val line = { val h = raw.indexOf('#'); if (h >= 0) raw.substring(0, h) else raw }.trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val field = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        field match {
          case "user-agent" =>
            if (current == null || !inAgents) {
              if (current != null) groups = current :: groups
              current = Group(List(value.toLowerCase), Nil, -1L)
            } else current = current.copy(agents = value.toLowerCase :: current.agents)
            inAgents = true
          case "allow" | "disallow" if current != null =>
            inAgents = false
            if (value.nonEmpty) // an empty Disallow is the no-op allow-all
              current = current.copy(allows = (field == "allow", value) :: current.allows)
          case "crawl-delay" if current != null =>
            inAgents = false
            try current = current.copy(delay = java.lang.Long.parseLong(value))
            catch { case _: NumberFormatException => () }
          case _ => inAgents = false
        }
      }
    }
    if (current != null) groups = current :: groups
    groups.reverse
  }

  /** `[allowed, crawl_delay]` for (robots text, product token, path):
    * the named group when one matches the token (case-insensitive),
    * else the `*` group, else allow with no delay; within the selected
    * group(s — same-agent groups merge per RFC 9309) the longest
    * matching rule pattern decides, allow winning equal lengths. */
  def eval(robots: String, agent: String, path: String): Array[Long] = {
    if (robots == null || path == null) return Array(1L, -1L)
    val groups = parse(robots)
    val a = agent.toLowerCase
    val named = groups.filter(_.agents.contains(a))
    val selected = if (named.nonEmpty) named else groups.filter(_.agents.contains("*"))
    if (selected.isEmpty) return Array(1L, -1L)
    val rules = selected.flatMap(_.allows)
    val delay = selected.map(_.delay).find(_ >= 0).getOrElse(-1L)
    var bestLen = -1
    var bestAllow = true // no matching rule: allowed
    rules.foreach { case (allow, pat) =>
      if (patternMatches(pat, path)) {
        val len = if (pat.endsWith("$")) pat.length - 1 else pat.length
        if (len > bestLen || (len == bestLen && allow)) {
          bestLen = len; bestAllow = allow
        }
      }
    }
    Array(if (bestAllow) 1L else 0L, delay)
  }

  /** [[eval]] with the product token last, the order the column call
    * passes it in. */
  def allow(robots: String, path: String, agent: String): Array[Long] =
    eval(robots, agent, path)
}

object RobotsExpressions {
  /** array<long> [allowed, crawl_delay] of (robots text, path) for the
    * given product token. */
  def robotsAllow(robots: Column, path: Column, agent: String): Column =
    KernelCall.column("graft_robots_allow", RobotsKernel, "allow", KernelCall.LongArray,
      Seq(robots -> StringType, path -> StringType), agent)
}
