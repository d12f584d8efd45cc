package perfbench

import scala.io.Source

/** One output row of the match contract. */
final case class Out(username: String, empId: String, empName: String,
                     confidence: String, matchType: String) {
  def isSentinel: Boolean = matchType == "USER NOT FOUND"
  def scoreValue: Double = confidence.stripSuffix("%").toDouble
}

object Check {
  private val LabelRank = Map("HIGH CONFIDENCE" -> 1, "2nd HIGH CONFIDENCE" -> 2,
    "3rd HIGH CONFIDENCE" -> 3, "NOT SURE" -> 4)

  def readTsv(path: String): Vector[Array[String]] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector
    finally src.close()
  }

  /** Expected answer (from the fixture-derived TSV), grouped by username. */
  def readAnswer(path: String): Map[String, Vector[Out]] =
    readTsv(path).map(a => Out(a(0), a(1), a(2), a(3), a(4))).groupBy(_.username)

  /** Candidate pairs' formatted exact scores: (username, emp_id, name) -> "74.50". */
  def readPairScores(path: String): Map[(String, String, String), String] =
    readTsv(path).map(a => (a(0), a(1), a(2)) -> a(3)).toMap

  private def key(o: Out) = (o.username, o.empId, o.empName, o.confidence, o.matchType)

  /** Checks one answer for `users` and returns the faults found (empty when
    * the answer is right):
    *  - it equals the expected answer as a multiset of rows;
    *  - every input username has exactly one group, of 1 to 4 rows, and no
    *    other username appears;
    *  - a sentinel is the only row of its group;
    *  - ordered by label, scores never rise, labels are dense (no rank is
    *    skipped) and one label never carries two scores;
    *  - with `pairScores`, every row's score is that pair's exact score. */
  def answer(rows: Seq[Out], users: Set[String], expected: Map[String, Vector[Out]],
             pairScores: Option[Map[(String, String, String), String]] = None): Seq[String] = {
    val faults = Seq.newBuilder[String]
    val groups = rows.groupBy(_.username)
    val extra = groups.keySet -- users
    if (extra.nonEmpty) faults += s"usernames not asked for: ${extra.take(3).mkString(", ")}"
    users.toSeq.sorted.foreach { u =>
      val g = groups.getOrElse(u, Nil)
      if (g.isEmpty) faults += s"$u: no group"
      else if (g.size > 4) faults += s"$u: ${g.size} rows"
      if (g.exists(_.isSentinel) && g.size != 1) faults += s"$u: sentinel among matches"
      val matches = g.filterNot(_.isSentinel)
      if (matches.exists(m => !LabelRank.contains(m.matchType)))
        faults += s"$u: unknown label"
      else {
        val byLabel = matches.sortBy(m => LabelRank(m.matchType))
        val ranks = byLabel.map(m => LabelRank(m.matchType)).distinct
        if (ranks.nonEmpty && ranks != (1 to ranks.size)) faults += s"$u: labels not dense"
        byLabel.zip(byLabel.drop(1)).foreach { case (a, b) =>
          if (b.scoreValue > a.scoreValue) faults += s"$u: score rises within the group"
          if (a.matchType == b.matchType && a.confidence != b.confidence)
            faults += s"$u: one label on two scores"
        }
      }
      pairScores.foreach { exact =>
        matches.foreach { m =>
          if (!exact.get((u, m.empId, m.empName)).map(_ + "%").contains(m.confidence))
            faults += s"$u: ${m.empId}/${m.empName} scored ${m.confidence}, not its exact score"
        }
      }
      val want = expected.getOrElse(u, Vector.empty).map(key).sorted
      if (g.map(key).sorted != want) faults += s"$u: rows differ from the expected answer"
    }
    faults.result()
  }

  /** Share of the expected rows scoring at least 50 that `rows` also return. */
  def recall(rows: Seq[Out], expected: Map[String, Vector[Out]]): Double = {
    val want = expected.values.flatten.filterNot(_.isSentinel).map(o => (o.username, o.empId, o.empName)).toSet
    val got = rows.filterNot(_.isSentinel).map(o => (o.username, o.empId, o.empName)).toSet
    if (want.isEmpty) 1.0 else (want & got).size.toDouble / want.size
  }
}
