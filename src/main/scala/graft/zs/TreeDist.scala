package graft.zs

/** Pluggable per-operation costs — the analogue of the reference's
  * first-class `insert_cost` / `remove_cost` / `update_cost` parameters
  * (zss/compare.py anchor `def distance(A, B, get_children, insert_cost,
  * remove_cost, update_cost)` ~L163).
  */
trait CostModel extends Serializable {
  def insert(label: String): Double
  def remove(label: String): Double
  def update(a: String, b: String): Double
}

/** Default `simple_distance` semantics (zss/compare.py anchor
  * `def simple_distance` ~L123-160): every cost is `strdist` against the
  * relevant label, with insert/remove measured against the empty string —
  * so inserting or removing an empty-labeled node is free.
  */
object UnitCost extends CostModel {
  def insert(label: String): Double = if (label.isEmpty) 0.0 else 1.0
  def remove(label: String): Double = if (label.isEmpty) 0.0 else 1.0
  def update(a: String, b: String): Double = if (a == b) 0.0 else 1.0
}

/** Label-Levenshtein variant — mirrors the reference's optional
  * `label_dist=editdist` path (zss/compare.py anchor `def strdist`
  * fallback ~L20-28, C `editdist`/`editdistance` modules).
  */
object LevenshteinCost extends CostModel {
  def insert(label: String): Double = label.length.toDouble
  def remove(label: String): Double = label.length.toDouble
  def update(a: String, b: String): Double = lev(a, b).toDouble

  private[zs] def lev(a: String, b: String): Int = {
    if (a == b) return 0
    val n = b.length
    var prev = Array.tabulate(n + 1)(identity)
    var cur = new Array[Int](n + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= n) {
        val sub = prev(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1)
        val del = prev(j) + 1
        val ins = cur(j - 1) + 1
        cur(j) = math.min(sub, math.min(del, ins))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(n)
  }
}

/** Zhang–Shasha ordered-tree edit distance.
  *
  * Semantics: zss/compare.py inner `def treedist(i, j)` + the ascending
  * keyroot double loop (`~L163-215`); spec restated in SURVEY.md §2.2.
  * Two kernels:
  *  - [[TreeDist.distance]] — generic [[CostModel]], Double costs
  *    (faithful to the reference's pluggable-cost entry point);
  *  - [[Scorer]] — unit-cost 16-bit hot path with reusable flat scratch
  *    buffers over Long label codes, built for `mapPartitions` where
  *    one Scorer instance is reused across every pair in a partition.
  *    It has two DP loops: the full DP with per-node costs and the
  *    threshold-banded DP.
  */
object TreeDist {

  def unit(a: PTree, b: PTree): Int = new Scorer().dist(a, b)

  def distance(a: PTree, b: PTree, costs: CostModel): Double = {
    val na = a.n
    val nb = b.n
    val al = a.lmds
    val bl = b.lmds
    val td = new Array[Double](na * nb)
    val fd = new Array[Double]((na + 1) * (nb + 1))
    var ki = 0
    while (ki < a.keyroots.length) {
      val i = a.keyroots(ki)
      val ali = al(i)
      val m = i - ali + 2
      val ioff = ali - 1
      var kj = 0
      while (kj < b.keyroots.length) {
        val j = b.keyroots(kj)
        val blj = bl(j)
        val n = j - blj + 2
        val joff = blj - 1
        // fd is an m x n matrix stored row-major in a flat array.
        fd(0) = 0.0
        var x = 1
        while (x < m) { fd(x * n) = fd((x - 1) * n) + costs.remove(a.labels(x + ioff)); x += 1 }
        var y = 1
        while (y < n) { fd(y) = fd(y - 1) + costs.insert(b.labels(y + joff)); y += 1 }
        x = 1
        while (x < m) {
          val xa = x + ioff
          val row = x * n
          val prow = (x - 1) * n
          y = 1
          while (y < n) {
            val yb = y + joff
            val d1 = fd(prow + y) + costs.remove(a.labels(xa))
            val d2 = fd(row + y - 1) + costs.insert(b.labels(yb))
            if (ali == al(xa) && blj == bl(yb)) {
              // both prefixes are whole subtrees → this cell is a tree dist
              val d3 = fd(prow + y - 1) + costs.update(a.labels(xa), b.labels(yb))
              val mn = math.min(d1, math.min(d2, d3))
              fd(row + y) = mn
              td(xa * nb + yb) = mn
            } else {
              // splice the memoized subtree distance (the regression-test
              // sensitive branch — p/q offsets per SURVEY.md §2.2)
              val p = al(xa) - 1 - ioff
              val q = bl(yb) - 1 - joff
              val d3 = fd(p * n + q) + td(xa * nb + yb)
              fd(row + y) = math.min(d1, math.min(d2, d3))
            }
            y += 1
          }
          x += 1
        }
        kj += 1
      }
      ki += 1
    }
    td((na - 1) * nb + (nb - 1))
  }
}

/** Unit-cost kernel with per-instance reusable scratch. NOT thread-safe —
  * allocate one per partition/thread (`mapPartitions { it => val s = new
  * Scorer; ... }`). DP buffers grow monotonically to the largest pair
  * seen, so a partition scores thousands of pairs without allocating
  * them again. Two DP loops:
  *  - [[distHashed]] — the full forest DP with per-node insert/remove
  *    costs (0 for the empty label); [[dist]] interns string labels to
  *    exact Long codes and runs it, so the inner loop never touches a
  *    String;
  *  - [[distHashedBounded]] — the banded unit-cost DP the pipeline
  *    scores every candidate pair with: a relative and an absolute
  *    (postorder) band, grown by doubling up to the threshold.
  */
final class Scorer {
  // 16-bit DP cells: unit-cost distance is bounded by |A|+|B| ≤ 2·maxNodes
  // (4096 with the parse cap) « 65535, and halving the matrix footprint
  // doubles effective memory bandwidth — the DP is bandwidth-bound at
  // high core counts, so this directly buys multi-core scaling.
  private var td: Array[Char] = new Array[Char](0)
  private var fd: Array[Char] = new Array[Char](0)
  private var ra: Array[Int] = new Array[Int](0) // remove cost per A-node
  private var ib: Array[Int] = new Array[Int](0) // insert cost per B-node

  /** Pairs scored by this instance (per-partition metric). */
  var pairsScored: Long = 0L
  /** Total DP cells touched (throughput denominator for bench). */
  var cellsTouched: Long = 0L

  private def reserve(na: Int, nb: Int): Unit = {
    require(na + nb < 65535, s"tree pair too large for 16-bit DP cells: $na + $nb")
    if (td.length < na * nb) td = new Array[Char](na * nb)
    if (fd.length < (na + 1) * (nb + 1)) fd = new Array[Char]((na + 1) * (nb + 1))
  }

  /** Unit-cost distance over 64-bit label hashes — the pipeline's hot
    * path. The scoring stage ships `labelsH: Array[Long]` (hashed at
    * parse time) instead of strings: primitive arrays deserialize with
    * zero object churn and label equality is one long compare (the
    * chance of a mix64 collision making two different labels "equal" is
    * ~2⁻⁶⁴ per comparison — negligible next to any data-quality noise).
    * `emptyHash` marks the empty label, whose insert/remove cost is 0
    * under `simple_distance` semantics.
    */
  def distHashed(laA: Array[Long], alIn: Array[Int], kraIn: Array[Int],
                 lbB: Array[Long], blIn: Array[Int], krbIn: Array[Int],
                 emptyHash: Long): Int = {
    val na = laA.length
    val nb = lbB.length
    reserve(na, nb)
    if (ra.length < na) ra = new Array[Int](na)
    if (ib.length < nb) ib = new Array[Int](nb)
    var i0 = 0
    while (i0 < na) { ra(i0) = if (laA(i0) == emptyHash) 0 else 1; i0 += 1 }
    var j0 = 0
    while (j0 < nb) { ib(j0) = if (lbB(j0) == emptyHash) 0 else 1; j0 += 1 }

    val al = alIn
    val bl = blIn
    var ki = 0
    while (ki < kraIn.length) {
      val i = kraIn(ki)
      val ali = al(i)
      val m = i - ali + 2
      val ioff = ali - 1
      var kj = 0
      while (kj < krbIn.length) {
        val j = krbIn(kj)
        val blj = bl(j)
        val n = j - blj + 2
        val joff = blj - 1
        cellsTouched += m.toLong * n
        fd(0) = 0.toChar
        var x = 1
        while (x < m) { fd(x * n) = (fd((x - 1) * n) + ra(x + ioff)).toChar; x += 1 }
        var y = 1
        while (y < n) { fd(y) = (fd(y - 1) + ib(y + joff)).toChar; y += 1 }
        x = 1
        while (x < m) {
          val xa = x + ioff
          val alxa = al(xa)
          val rxa = ra(xa)
          val laxa = laA(xa)
          val row = x * n
          val prow = row - n
          val tdrow = xa * nb
          val whole = ali == alxa
          y = 1
          while (y < n) {
            val yb = y + joff
            var mn = fd(prow + y) + rxa
            val d2 = fd(row + y - 1) + ib(yb)
            if (d2 < mn) mn = d2
            if (whole && blj == bl(yb)) {
              val d3 = fd(prow + y - 1) + (if (laxa == lbB(yb)) 0 else 1)
              if (d3 < mn) mn = d3
              fd(row + y) = mn.toChar
              td(tdrow + yb) = mn.toChar
            } else {
              val p = alxa - 1 - ioff
              val q = bl(yb) - 1 - joff
              val d3 = fd(p * n + q) + td(tdrow + yb)
              if (d3 < mn) mn = d3
              fd(row + y) = mn.toChar
            }
            y += 1
          }
          x += 1
        }
        kj += 1
      }
      ki += 1
    }
    pairsScored += 1
    td((na - 1) * nb + (nb - 1))
  }

  /** Threshold-banded variant of [[distHashed]]: returns the exact
    * distance if it is ≤ maxDist, else maxDist+1. The pipeline scores
    * every candidate pair with it at maxDist = τ·(nA+nB).
    *
    * The banded core at bound D computes cell (x, y) of keyroot pair
    * (i, j) only inside two bands, both from unit insert/remove costs:
    *  - relative, |x−y| ≤ D (Ukkonen): forests whose sizes differ by
    *    more than D are more than D apart;
    *  - absolute, |(x+ioff)−(y+joff)| ≤ D (Touzet, k-bounded TED): a
    *    mapping of cost ≤ D pairs only nodes whose postorder indices
    *    differ by at most D, and the same holds for every forest-prefix
    *    cell on its DP path, since the nodes left of a prefix map only
    *    among themselves.
    * A keyroot pair with |ioff−joff| > D is skipped: its td values are
    * read only in splices whose fd cell starts at that same offset, so
    * outside the absolute band. Every read outside the bands yields the
    * cap D+1 (capped boundary, row sentinels, guarded splice and td
    * reads; a stale td is only ever added to a capped splice), and
    * computed values are capped at D+1.
    *
    * Proof sketch: every cell is ≥ min(true, D+1), because a cap only
    * ever stands in for a value; and when the distance is ≤ D, every
    * cell and td on the optimal mapping's derivation lies in both bands
    * of an unskipped keyroot pair with a value ≤ D, so it is exact.
    *
    * The ladder runs the core at D = 4, 8, 16, … (from the first step
    * at or above the size gap, never above maxDist) and stops at the
    * first D whose result is ≤ D, so the band follows the true
    * distance, not the threshold.
    *
    * Falls back to the exact full DP when labels can be empty
    * (insert/remove cost 0 breaks both bands, and with them the
    * size-gap bound) or the band would not save work.
    */
  def distHashedBounded(laA: Array[Long], al: Array[Int], kra: Array[Int],
                        lbB: Array[Long], bl: Array[Int], krb: Array[Int],
                        emptyHash: Long, maxDist: Int): Int = {
    val na = laA.length
    val nb = lbB.length
    var hasEmpty = false
    var i = 0
    while (i < na && !hasEmpty) { hasEmpty = laA(i) == emptyHash; i += 1 }
    i = 0
    while (i < nb && !hasEmpty) { hasEmpty = lbB(i) == emptyHash; i += 1 }
    val gap = math.abs(na - nb)
    if (hasEmpty || maxDist >= na + nb)
      math.min(distHashed(laA, al, kra, lbB, bl, krb, emptyHash), maxDist + 1)
    else if (gap > maxDist)
      maxDist + 1 // size gap alone exceeds the threshold
    else {
      reserve(na, nb)
      pairsScored += 1
      var band = 4
      while (band < gap) band *= 2
      var d = boundedCoreChar(laA, al, kra, lbB, bl, krb, math.min(band, maxDist))
      while (d > band && band < maxDist) {
        band *= 2
        d = boundedCoreChar(laA, al, kra, lbB, bl, krb, math.min(band, maxDist))
      }
      d
    }
  }

  /** The banded unit-cost DP of [[distHashedBounded]] at bound D: labels
    * are known non-empty, the size gap is ≤ D and the buffers reserved. */
  private def boundedCoreChar(laA: Array[Long], al: Array[Int], kra: Array[Int],
                              lbB: Array[Long], bl: Array[Int], krb: Array[Int],
                              D: Int): Int = {
    val na = laA.length
    val nb = lbB.length
    val cap = (D + 1).toChar

    var ki = 0
    while (ki < kra.length) {
      val i2 = kra(ki)
      val ali = al(i2)
      val m = i2 - ali + 2
      val ioff = ali - 1
      var kj = 0
      while (kj < krb.length) {
        val j = krb(kj)
        val blj = bl(j)
        val joff = blj - 1
        val delta = ioff - joff // postorder shift of the two forests
        if (math.abs(delta) <= D) {
          val n = j - blj + 2
          // boundary rows/cols inside the band (+ sentinel just outside)
          val x0max = math.min(m - 1, D + 1)
          var x = 0
          while (x <= x0max) { fd(x * n) = (if (x > D) D + 1 else x).toChar; x += 1 }
          val y0max = math.min(n - 1, D + 1)
          var y = 0
          while (y <= y0max) { fd(y) = (if (y > D) D + 1 else y).toChar; y += 1 }
          // row x spans [x−D, x+D] ∩ [x+delta−D, x+delta+D] (relative ∩
          // absolute band); with |delta| ≤ D no row before xmax is empty
          val loShift = math.max(0, delta) - D
          val hiShift = math.min(0, delta) + D
          val xmax = math.min(m - 1, n - 1 - loShift)
          x = 1
          while (x <= xmax) {
            val ylo = math.max(1, x + loShift)
            val yhi = math.min(n - 1, x + hiShift)
            cellsTouched += (yhi - ylo + 1).toLong
            val xa = x + ioff
            val alxa = al(xa)
            val laxa = laA(xa)
            val row = x * n
            val prow = row - n
            val tdrow = xa * nb
            val whole = ali == alxa
            // per-row constants of the else branch, hoisted out of the
            // y loop: p (fd row of the left-forest splice), its base
            // offset, and the A-subtree size
            val p = alxa - 1 - ioff
            val pn = p * n
            val szA = xa - alxa + 1
            if (ylo >= 2) fd(row + ylo - 1) = cap // left sentinel
            y = ylo
            while (y <= yhi) {
              val yb = y + joff
              val blyb = bl(yb)
              var mn = fd(prow + y) + 1 // remove cost 1 (no empty labels)
              val d2 = fd(row + y - 1) + 1
              if (d2 < mn) mn = d2
              if (whole && blj == blyb) {
                val d3 = fd(prow + y - 1) + (if (laxa == lbB(yb)) 0 else 1)
                if (d3 < mn) mn = d3
                if (mn > D) mn = D + 1
                fd(row + y) = mn.toChar
                td(tdrow + yb) = mn.toChar
              } else {
                val q = blyb - 1 - joff
                // guarded reads: the splice cell (p, q) outside either
                // band was not written this keyroot pair (its absolute
                // offset is alxa − blyb); td(xa, yb) was computed when
                // the subtree sizes differ by ≤ D and that splice is in
                // band, and is only added to the cap otherwise
                val fpq =
                  if (math.abs(p - q) > D || math.abs(alxa - blyb) > D) cap.toInt
                  else fd(pn + q).toInt
                val szB = yb - blyb + 1
                val tdv = if (math.abs(szA - szB) > D) cap.toInt else td(tdrow + yb).toInt
                val d3 = fpq + tdv
                if (d3 < mn) mn = d3
                if (mn > D) mn = D + 1
                fd(row + y) = mn.toChar
              }
              y += 1
            }
            if (yhi + 1 <= n - 1) fd(row + yhi + 1) = cap // right sentinel
            x += 1
          }
        }
        kj += 1
      }
      ki += 1
    }
    td((na - 1) * nb + (nb - 1)) // in band: |na − nb| ≤ D
  }

  /** Unit-cost distance over string labels: interns them to exact Long
    * codes (the empty label gets code 0) and runs [[distHashed]]. */
  def dist(a: PTree, b: PTree): Int = {
    val codes = scala.collection.mutable.HashMap("" -> 0L)
    def intern(labels: Array[String]): Array[Long] =
      labels.map(codes.getOrElseUpdate(_, codes.size.toLong))
    distHashed(intern(a.labels), a.lmds, a.keyroots, intern(b.labels), b.lmds, b.keyroots, 0L)
  }
}
