package graft.perfbench

/** The JVM-side output checks, as plain predicates over result rows. */
object Checks {
  /** Exactly k (doc_id, score) rows, ordered by score desc then doc_id. */
  def ranked(rows: Seq[(Long, Double)], k: Int): Boolean =
    rows.length == k && rows.sliding(2).forall {
      case Seq((ia, sa), (ib, sb)) => sa > sb || (sa == sb && ia < ib)
      case _ => true
    }

  /** The search returned doc `id`. */
  def returned(ids: Seq[Long], id: Long): Boolean = ids.contains(id)

  /** Order-insensitive digest of a result's rows. */
  def digest(rows: Seq[Any]): Int = rows.map(_.toString).sorted.mkString("\n").hashCode
}

/** Shows each JVM-side check accepting a right result and rejecting a
  * deliberately wrong one; exits 1 on the first check that does not.
  * Run by perfbench/test_perfbench.py.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val good = Seq(3L -> 0.9, 1L -> 0.5, 2L -> 0.5, 7L -> 0.1, 4L -> 0.0)
    val cases = Seq(
      "ranked accepts k ordered rows" -> Checks.ranked(good, 5),
      "ranked rejects too few rows" -> !Checks.ranked(good.take(4), 5),
      "ranked rejects a score inversion" -> !Checks.ranked(good.updated(1, 1L -> 0.95), 5),
      "ranked rejects a tie out of doc_id order" -> !Checks.ranked(good.updated(1, 9L -> 0.5), 5),
      "returned finds the doc" -> Checks.returned(good.map(_._1), 7L),
      "returned rejects a missing doc" -> !Checks.returned(good.map(_._1), 8L),
      "digest ignores row order" -> (Checks.digest(Seq("a", "b")) == Checks.digest(Seq("b", "a"))),
      "digest sees a changed row" -> (Checks.digest(Seq("a", "b")) != Checks.digest(Seq("a", "c"))),
      "a passed check keeps its latency" -> (Main.timedIf(ok = true, 5.0) == 5.0),
      "a failed check's latency is infinite" -> Main.timedIf(ok = false, 5.0).isPosInfinity)
    val bad = cases.filterNot(_._2).map(_._1)
    bad.foreach(b => println(s"FAIL $b"))
    println(s"${cases.size - bad.size}/${cases.size} checks behave")
    if (bad.nonEmpty) sys.exit(1)
  }
}
