package sidebench

import java.util.SplittableRandom

/** Seeded event log over `partitions` partitions: (partition, offset,
  * key, value) rows plus per-partition prefix sums of their digests, so
  * any offset range's expected count and digest come out in O(1).
  *
  * Row classes are disjoint by construction: `standing` rows carry a
  * blocked key (never an error); `request` rows are error events of an
  * unblocked key; every other row is `plain`. */
final class LogGen(seed: Long, val partitions: Int, val rowsPerPartition: Int,
    val blockedUsers: Int) {
  import LogGen._

  private val users = Array.ofDim[Short](partitions, rowsPerPartition)
  private val types = Array.ofDim[Byte](partitions, rowsPerPartition)
  // prefix sums per partition and class (all, standing, request) of the
  // count and the two digest halves; index i covers offsets [0, i)
  private val pre = Array.fill(partitions, 3, 3)(new Array[Long](rowsPerPartition + 1))

  for (p <- 0 until partitions) {
    val rnd = new SplittableRandom(seed * 1000003L + p)
    for (o <- 0 until rowsPerPartition) {
      val user = rnd.nextInt(Users)
      val blocked = user < blockedUsers
      val error = !blocked && rnd.nextDouble() < ErrorShare
      users(p)(o) = user.toShort
      types(p)(o) = (if (error) -1 else rnd.nextInt(OtherTypes.length)).toByte
      val h = RowHash(p, o.toLong, key(p, o), value(p, o))
      for (c <- 0 until 3) {
        val on = c == All || (c == Standing && blocked) || (c == Request && error)
        val s = pre(p)(c)
        s(0)(o + 1) = s(0)(o) + (if (on) 1L else 0L)
        s(1)(o + 1) = s(1)(o) + (if (on) RowHash.lo(h) else 0L)
        s(2)(o + 1) = s(2)(o) + (if (on) RowHash.hi(h) else 0L)
      }
    }
  }

  def key(p: Int, o: Int): String = UserKeys(users(p)(o))
  def value(p: Int, o: Int): String =
    if (types(p)(o) < 0) "error" else OtherTypes(types(p)(o))

  /** Sums of class `c` over offsets [from, until) of partition p. */
  def range(p: Int, from: Long, until: Long, c: Int): Sums = {
    val a = math.max(0L, math.min(from, rowsPerPartition.toLong)).toInt
    val b = math.max(a.toLong, math.min(until, rowsPerPartition.toLong)).toInt
    val s = pre(p)(c)
    Sums(s(0)(b) - s(0)(a), s(1)(b) - s(1)(a), s(2)(b) - s(2)(a))
  }

  /** Sums of class `c` over per-partition ranges [from(p), until(p)). */
  def ranges(from: Map[Int, Long], until: Map[Int, Long], c: Int): Sums =
    until.foldLeft(Sums.zero) { case (acc, (p, u)) =>
      acc + range(p, from.getOrElse(p, 0L), u, c)
    }

  /** The blocked keys a standing step drops. */
  def blockedKeys: Seq[String] = UserKeys.take(blockedUsers).toSeq
}

object LogGen {
  val All = 0
  val Standing = 1
  val Request = 2
  val Users = 200
  val ErrorShare = 0.2
  val OtherTypes: Array[String] = Array("click", "view", "purchase", "signup")
  val UserKeys: Array[String] = Array.tabulate(Users)(u => f"u$u%03d")
}
