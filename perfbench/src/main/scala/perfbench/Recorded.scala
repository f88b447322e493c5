package perfbench

/** Query signatures recorded for given seeds, so a later change that
  * alters a read's answer fails the check even when it is stable
  * from pass to pass. One line per (seed, docs, query):
  * `seed<TAB>docs<TAB>query<TAB>rows<TAB>hash`. */
object Recorded {
  private var table = Map.empty[(Long, Int, String), Checks.Sig]

  def load(file: java.io.File): Unit = if (file.isFile) {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try table = src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(seed, docs, q, rows, hash) = l.split('\t')
      (seed.toLong, docs.toInt, q) -> Checks.Sig(rows.toLong, hash.toLong)
    }.toMap
    finally src.close()
  }

  def get(seed: Long, docs: Int, query: String): Option[Checks.Sig] =
    table.get((seed, docs, query))

  /** Print a signature in the table's line format, for recording. */
  def note(seed: Long, docs: Int, query: String, sig: Checks.Sig): Unit =
    System.err.println(s"signature\t$seed\t$docs\t$query\t${sig.rows}\t${sig.hash}")
}
