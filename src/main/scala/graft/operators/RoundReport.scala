package graft.operators

/** What an iterative operator reports after each round: the 1-based
  * round number, the rows of the state the round leaves for the next
  * one (star edges, state rows, pending edges or undecided nodes;
  * each operator's `onRound` doc names which), and the round's wall time. CC,
  * Hash-to-Min, CENTER and Pivot take an
  * `onRound: Option[RoundReport => Unit] = None`; a count the loop
  * does not already take runs only when a reporter is passed. */
final case class RoundReport(round: Int, rowsOut: Long, wallNs: Long)
