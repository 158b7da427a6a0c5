package graft.sources

/** Robots Exclusion Protocol (RFC 9309) evaluation for the crawl
  * chain — the politeness/compliance gate between a fetched corpus and
  * a training pipeline: given a site's `robots.txt` and a page path,
  * was this crawler allowed to take the page? Post-hoc filtering on
  * this signal is a standard curation step for responsibly-built web
  * corpora.
  *
  * Semantics implemented per RFC 9309:
  *   - Group selection (§2.2.1): the group whose `User-agent` product
  *     token case-insensitively equals the crawler's token; multiple
  *     groups for the same token merge; otherwise the `*` group;
  *     otherwise no rules apply (everything allowed).
  *   - Rule matching (§2.2.2): a rule's path pattern matches as a
  *     PREFIX of the request path, with `*` matching any octet
  *     sequence and a trailing `$` anchoring the end. The most
  *     specific match wins = the matching rule with the LONGEST
  *     pattern (octet length, wildcards counted as written); on a
  *     length tie, `Allow` wins (§2.2.2's "least restrictive" rule).
  *     No matching rule → allowed. An EMPTY `Disallow:` value is a
  *     no-op (the classic allow-all form), never a block-everything.
  *   - Lines are `field: value` with `#` comments stripped, field
  *     names case-insensitive, CRLF or LF. Unknown fields (crawl-delay,
  *     sitemap) never terminate an open group's RULE list — but per
  *     §2.2's grammar only CONSECUTIVE `user-agent` lines head a
  *     single group, so an unknown field between two `user-agent`
  *     lines ends the first agent run (that group stays, possibly
  *     empty = that agent's allow-all) and the next `user-agent` line
  *     starts a NEW group; likewise a `user-agent` line after rules
  *     starts a new group.
  *
  * Percent-encoding normalization (round 17, closing the previously
  * documented out-of-scope): per §2.2.2 / RFC 3986, a percent-encoded
  * octet in a rule pattern or request path is DECODED before
  * comparison only when it encodes an UNRESERVED character
  * (ALPHA / DIGIT / `-` `.` `_` `~`) — so `%7Eadmin` and `~admin`
  * compare equal — while every other escape stays encoded with its
  * hex digits UPPERCASED (so `%2f` and `%2F` compare equal, and
  * `%2F` never matches a literal `/` — decoding it would change the
  * path structure). An invalid escape (`%` not followed by two hex
  * digits) passes through literally. Both sides normalize, and rule
  * specificity lengths are measured on the normalized pattern.
  *
  * Scale shape: `robots.txt` bodies are small and per-HOST, so the
  * compiled rule set rides a broadcast (or, as here, a per-executor
  * memo keyed by the robots text): evaluation is a handful of
  * prefix/regex probes per page, never a shuffle.
  */
object Robots {

  /** One merged, compiled rule: allow/disallow + the source pattern
    * (for specificity length) + its compiled matcher. */
  final case class Rule(allow: Boolean, pattern: String,
      regex: java.util.regex.Pattern) {
    def matches(path: String): Boolean = regex.matcher(path).lookingAt()
  }

  private def isUnreserved(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else -1

  /** §2.2.2 comparison normalization (see header): decode unreserved
    * escapes, uppercase the hex of everything else, pass invalid
    * escapes through literally. No-allocation fast path for the
    * overwhelmingly common no-`%` string. */
  private[sources] def normalizePct(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val h = hexVal(s.charAt(i + 1)); val l = hexVal(s.charAt(i + 2))
        if (h >= 0 && l >= 0) {
          val octet = (h << 4) | l
          if (octet < 0x80 && isUnreserved(octet.toChar)) sb.append(octet.toChar)
          else sb.append('%')
            .append(java.lang.Character.toUpperCase(s.charAt(i + 1)))
            .append(java.lang.Character.toUpperCase(s.charAt(i + 2)))
          i += 3
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Translate an RFC 9309 path pattern to a regex applied with
    * `lookingAt` (prefix semantics): `*` → `.*`, trailing `$` → end
    * anchor, everything else literal. */
  private[sources] def compilePattern(p: String): java.util.regex.Pattern = {
    val (body, anchored) =
      if (p.endsWith("$")) (p.dropRight(1), true) else (p, false)
    val sb = new StringBuilder
    body.foreach {
      case '*' => sb.append(".*")
      case c => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    if (anchored) sb.append('$')
    java.util.regex.Pattern.compile(sb.toString)
  }

  /** Parse `robots.txt` and return the merged rule list that governs
    * `agent` (case-insensitive product token), per the group-selection
    * rules above. */
  def parse(txt: String, agent: String): Seq[Rule] = {
    val want = agent.toLowerCase(java.util.Locale.ROOT)
    // accumulate (agentTokens, rules) groups
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[(List[String], scala.collection.mutable.ArrayBuffer[(Boolean, String)])]
    var curAgents: List[String] = Nil
    var inAgentRun = false // consecutive user-agent lines share one group
    for (raw <- txt.split("\r?\n")) {
      val line = raw.indexOf('#') match {
        case -1 => raw.trim
        case i => raw.substring(0, i).trim
      }
      val colon = line.indexOf(':')
      if (line.nonEmpty && colon > 0) {
        val field = line.substring(0, colon).trim
          .toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(colon + 1).trim
        field match {
          case "user-agent" =>
            val tok = value.toLowerCase(java.util.Locale.ROOT)
            if (inAgentRun) curAgents = tok :: curAgents
            else { curAgents = List(tok); inAgentRun = true }
          case "allow" | "disallow" =>
            if (curAgents.nonEmpty) {
              if (inAgentRun) {
                groups += ((curAgents,
                  scala.collection.mutable.ArrayBuffer.empty))
                inAgentRun = false
              }
              // empty Disallow/Allow value is a no-op (allow-all form)
              if (value.nonEmpty)
                groups.last._2 += ((field == "allow", value))
            }
          case _ =>
            // crawl-delay, sitemap, unknown: never terminates an open
            // group's rule list — but it DOES end a run of user-agent
            // lines (§2.2: only consecutive user-agent lines head one
            // group), so `User-agent: a / Crawl-delay / User-agent: b`
            // gives a an (empty) group of its own, not b's rules
            if (inAgentRun) {
              groups += ((curAgents,
                scala.collection.mutable.ArrayBuffer.empty))
              inAgentRun = false
            }
        }
      }
    }
    // a trailing agent run with no rules at EOF is an EMPTY group —
    // the specific agent's allow-all, which must still beat the `*`
    // group (RFC 9309 §2.2.1), so record it
    if (inAgentRun)
      groups += ((curAgents, scala.collection.mutable.ArrayBuffer.empty))
    val mine = groups.filter(_._1.contains(want))
    val chosen =
      if (mine.nonEmpty) mine else groups.filter(_._1.contains("*"))
    chosen.flatMap(_._2).toSeq.map { case (allow, p) =>
      val np = normalizePct(p)
      Rule(allow, np, compilePattern(np))
    }
  }

  /** RFC 9309 decision for `path` under `rules`: longest matching
    * pattern wins, allow wins length ties, no match → allowed. Both
    * sides compare in §2.2.2-normalized form ([[normalizePct]] — rule
    * patterns were normalized at parse time). */
  def isAllowed(rules: Seq[Rule], path: String): Boolean = {
    val p = normalizePct(path)
    var bestLen = -1
    var bestAllow = true
    rules.foreach { r =>
      if (r.matches(p)) {
        val len = r.pattern.length
        if (len > bestLen || (len == bestLen && r.allow && !bestAllow)) {
          bestLen = len
          bestAllow = r.allow
        }
      }
    }
    bestAllow
  }

  /** Per-executor compiled-rules memo — robots bodies repeat per host,
    * so each executor parses each distinct body once. SIZE-BOUNDED: a
    * large crawl sees millions of distinct hosts over a JVM's lifetime, and an unbounded map would
    * retain every robots body string forever. When the cap is hit the
    * map is cleared wholesale — crude but lock-free on the hot path
    * (no LRU bookkeeping per lookup); the working set re-parses in
    * microseconds and a full churn costs one parse per distinct body
    * per overflow, while retained memory stays ≤ ~cap × body size. */
  private val MemoMaxEntries = 4096
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[Rule]]()

  def allowed(robotsTxt: String, agent: String, path: String): Boolean = {
    if (memo.size() > MemoMaxEntries) memo.clear()
    val rules = memo.computeIfAbsent((robotsTxt, agent),
      { case (t, a) => parse(t, a) })
    isAllowed(rules, path)
  }
}
