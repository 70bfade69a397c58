package graft.frontier

/** Minimal robots.txt evaluation (REP, RFC 9309 longest-match semantics)
  * for the politeness gate. The reference has no robots support — this is
  * engine-side (BASELINE.json north_rule: "politeness, robots").
  */
final case class RobotsRules(
    disallow: Vector[String],
    allow: Vector[String],
    crawlDelay: Option[Double])

object RobotsRules {

  val allowAll: RobotsRules = RobotsRules(Vector.empty, Vector.empty, None)

  /** Allocation-free gate for the per-row crawl UDF: RFC 9309 longest-match
    * directly over the pre-parsed rule arrays carried by the broadcast
    * robots table — no per-row RobotsRules wrapping, no Vector copies. The
    * most specific (longest) matching rule wins, Allow wins ties, and an
    * empty rule matches nothing. */
  def allowedPath(disallow: Seq[String], allow: Seq[String], path: String): Boolean = {
    val p = if (path.isEmpty) "/" else path
    var d = -1
    var i = 0
    while (i < disallow.length) {
      val r = disallow(i)
      if (r.nonEmpty && r.length > d && p.startsWith(r)) d = r.length
      i += 1
    }
    var a = -1
    i = 0
    while (i < allow.length) {
      val r = allow(i)
      if (r.nonEmpty && r.length > a && p.startsWith(r)) a = r.length
      i += 1
    }
    a >= d
  }

  /** Parse a robots.txt body for a given user agent (default "*").
    * Group selection: rules under the most specific matching User-agent
    * (exact match preferred over "*"); multiple UA lines share a group. */
  def parse(body: String, agent: String = "graft"): RobotsRules = {
    final case class Group(agents: Vector[String], disallow: Vector[String],
                           allow: Vector[String], delay: Option[Double])
    var groups = Vector.empty[Group]
    var curAgents = Vector.empty[String]
    var curDis = Vector.empty[String]
    var curAllow = Vector.empty[String]
    var curDelay: Option[Double] = None
    var inRules = false
    def flush(): Unit = {
      if (curAgents.nonEmpty) groups :+= Group(curAgents, curDis, curAllow, curDelay)
      curAgents = Vector.empty; curDis = Vector.empty; curAllow = Vector.empty
      curDelay = None; inRules = false
    }
    for (line0 <- body.linesIterator) {
      val line = line0.takeWhile(_ != '#').trim
      val ci = line.indexOf(':')
      if (ci > 0) {
        val key = line.substring(0, ci).trim.toLowerCase
        val value = line.substring(ci + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) flush()
            curAgents :+= value.toLowerCase
          case "disallow"    => inRules = true; if (curAgents.nonEmpty) curDis :+= value
          case "allow"       => inRules = true; if (curAgents.nonEmpty) curAllow :+= value
          case "crawl-delay" => inRules = true
            if (curAgents.nonEmpty) curDelay = value.toDoubleOption
          case _             => ()
        }
      }
    }
    flush()
    val al = agent.toLowerCase
    val exact = groups.filter(_.agents.exists(a => a != "*" && al.startsWith(a)))
    val star = groups.filter(_.agents.contains("*"))
    val chosen = if (exact.nonEmpty) exact else star
    if (chosen.isEmpty) allowAll
    else RobotsRules(
      chosen.flatMap(_.disallow),
      chosen.flatMap(_.allow),
      chosen.flatMap(_.delay).headOption)
  }
}
