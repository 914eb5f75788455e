package graft.lake

/** Broadcastable interval index over data-file (minRepo, maxRepo) key
  * ranges: sorted minRepo array + prefix-max of maxRepo. "All intervals
  * containing repo r" is a binary search plus a backward prefix-max walk
  * — O(log files + hits) per distinct repo, executed on EXECUTORS so a
  * batch's repo set never reaches the driver (the r1 scale-killer fix,
  * kept as a standalone structure so the applier's fused stats+prune
  * pass and [[LakeTable.pruneFilesDistributed]] share one
  * implementation). Index size is O(files) strings — the same metadata
  * the driver's manifest already holds. */
final class RepoIntervalIndex private (
    private val sMin: Array[String],
    private val sMax: Array[String],
    private val prefMax: Array[String],
    private val order: Array[Int]) extends Serializable {

  def size: Int = sMin.length

  /** ORIGINAL indices, ascending, of the intervals containing any of
    * `repos` (each distinct repo is walked once). */
  def touched(repos: IterableOnce[String]): Iterator[Int] = {
    val seen = new java.util.HashSet[String]()
    val hit = new java.util.BitSet(size)
    repos.iterator.foreach(r => if (seen.add(r)) collectTouched(r, hit))
    Iterator.iterate(hit.nextSetBit(0))(b => hit.nextSetBit(b + 1)).takeWhile(_ >= 0)
  }

  /** Set the ORIGINAL file index bit for every interval containing `r`. */
  private def collectTouched(r: String, hit: java.util.BitSet): Unit = {
    var lo = 0; var hi = sMin.length - 1; var pos = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (sMin(mid) <= r) { pos = mid; lo = mid + 1 } else hi = mid - 1
    }
    var j = pos
    while (j >= 0 && prefMax(j) >= r) {
      if (sMax(j) >= r) hit.set(order(j))
      j -= 1
    }
  }
}

object RepoIntervalIndex {

  /** The elements of `items`, in order, whose `range` contains any of
    * `repos` — driver-side pruning through one index over `items`. */
  def select[A](items: Seq[A], repos: Iterable[String])(range: A => (String, String)): Seq[A] = {
    val v = items.toIndexedSeq
    apply(v.map(range)).touched(repos).map(v).toSeq
  }

  /** Build from per-file (minRepo, maxRepo) ranges, in manifest order. */
  def apply(ranges: Seq[(String, String)]): RepoIntervalIndex = {
    val n = ranges.size
    val order = ranges.indices.sortBy(ranges(_)._1).toArray
    val sMin = order.map(ranges(_)._1)
    val sMax = order.map(ranges(_)._2)
    val prefMax = new Array[String](n)
    var i = 0
    while (i < n) {
      prefMax(i) = if (i == 0) sMax(0)
        else if (sMax(i) > prefMax(i - 1)) sMax(i) else prefMax(i - 1)
      i += 1
    }
    new RepoIntervalIndex(sMin, sMax, prefMax, order)
  }
}
