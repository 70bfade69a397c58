package graft.frontier

/** RFC 9309 longest-match in its plain collection form, kept as the
  * differential reference for [[RobotsRules.allowedPath]], the crawl's
  * allocation-free gate. */
object RobotsReference {

  /** The most specific (longest) matching rule wins; Allow wins ties; an
    * empty rule matches nothing. */
  def allowed(rules: RobotsRules, path: String): Boolean = {
    val p = if (path.isEmpty) "/" else path
    def longest(rs: Vector[String]) =
      rs.iterator.filter(r => r.nonEmpty && p.startsWith(r)).map(_.length).maxOption.getOrElse(-1)
    longest(rules.allow) >= longest(rules.disallow)
  }
}
