package object perfbench {
  /** Properties `Main.prepare` recorded for a corpus, by name. */
  type Input = Map[String, Double]

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
