package graft.operators

import java.util.Arrays

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** A directed edge list collected to the driver as compressed sparse
  * rows — the driver regime of the [[GraphOps]] loops.
  *
  * Nodes are the distinct `src` keys, sorted ascending and addressed by
  * their index: the node set the distributed loops build with
  * `groupBy("src")`. `deg(u)` counts every out-edge of `u`, as that
  * count does; `adj(off(u) until off(u + 1))` holds the indexes of the
  * out-neighbours that are themselves nodes, because the distributed
  * rounds drop flow to any other `dst` in their joins against the node
  * table. Co-activity edge lists carry both directions, so in practice
  * every `dst` is a node.
  *
  * Memory is bounded per edge by construction: the edges arrive as one
  * primitive `Array[Long]` of (src, dst) pairs per partition — 16 B per
  * edge, never a `Row` — and each partition block is rewritten in place
  * to one packed (src index, dst index) long, then into the 4 B-per-edge
  * `adj`. Peak driver memory is the collected 16 B per edge plus one
  * partition block and the node-indexed arrays (n ≤ m nodes).
  */
private[operators] final class LocalGraph(
    val ids: Array[Long], val deg: Array[Int],
    val off: Array[Int], val adj: Array[Int]) {

  def n: Int = ids.length

  /** Index of node `id`, or a negative number when it is not a node. */
  def indexOf(id: Long): Int = Arrays.binarySearch(ids, id)

  /** `iterations` synchronous rounds of the truncating integer rank
    * recurrence the distributed loops run:
    * pr′(v) = restart(v) + (85 · Σ_{u→v} pr(u) div deg(u)) div 100.
    * Long sums are order-independent, so the result is bit-identical
    * to any partitioning of the same rounds. */
  def rankRounds(pr0: Array[Long], restart: Array[Long],
      iterations: Int): Array[Long] = {
    var pr = pr0
    for (_ <- 1 to iterations) {
      val inc = new Array[Long](n)
      var u = 0
      while (u < n) {
        val c = pr(u) / deg(u)
        var j = off(u)
        while (j < off(u + 1)) { inc(adj(j)) += c; j += 1 }
        u += 1
      }
      var v = 0
      while (v < n) { inc(v) = restart(v) + 85 * inc(v) / 100; v += 1 }
      pr = inc
    }
    pr
  }

  /** `iterations` synchronous label-propagation rounds from label = own
    * id: each node takes its neighbours' most frequent label, ties to
    * the smallest. A node none of whose neighbours holds a label loses
    * its own (`has(u)` false), as it drops out of the distributed
    * round's inner join. Returns (label, has) per node. */
  def labelRounds(iterations: Int): (Array[Long], Array[Boolean]) = {
    var lbl = ids.clone()
    var has = Array.fill(n)(true)
    var maxDeg = 0
    for (u <- 0 until n) maxDeg = math.max(maxDeg, off(u + 1) - off(u))
    val buf = new Array[Long](maxDeg)
    for (_ <- 1 to iterations) {
      val nextLbl = new Array[Long](n)
      val nextHas = new Array[Boolean](n)
      for (u <- 0 until n) {
        var k = 0
        var j = off(u)
        while (j < off(u + 1)) {
          if (has(adj(j))) { buf(k) = lbl(adj(j)); k += 1 }
          j += 1
        }
        if (k > 0) {
          Arrays.sort(buf, 0, k)
          // longest run of the sorted labels; only a strictly longer run
          // displaces an earlier one, so ties keep the smallest label
          var best = buf(0)
          var bestC = 0
          var i = 0
          while (i < k) {
            var e = i
            while (e < k && buf(e) == buf(i)) e += 1
            if (e - i > bestC) { best = buf(i); bestC = e - i }
            i = e
          }
          nextLbl(u) = best
          nextHas(u) = true
        }
      }
      lbl = nextLbl
      has = nextHas
    }
    (lbl, has)
  }
}

private[operators] object LocalGraph {

  /** The largest edge count the driver regime accepts whatever limit a
    * caller passes: a partition block holds two longs per edge in one
    * JVM array. */
  val MaxEdges: Long = Int.MaxValue / 2 - 8

  /** Collect `edges` (BIGINT `src`, `dst`, no nulls) in one job. */
  def collect(edges: DataFrame): LocalGraph = {
    // each task sorts its block by src (a local sort, no exchange) so the
    // driver can merge the node keys without a second copy of the edges
    val parts: Array[Array[Long]] = edges
      .select(col("src"), col("dst"))
      .sortWithinPartitions("src")
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
        Iterator.single(b.result())
      }
      .collect()
    val ids = mergedSources(parts)
    val n = ids.length
    val deg = new Array[Int](n)
    val kept = new Array[Int](n + 1)
    // pass 1: pair j of a block → (src index << 32 | dst index) written
    // over slot j (already read), dst index −1 when dst is not a node;
    // then the block shrinks to 8 B per edge
    for (p <- parts.indices) {
      val a = parts(p)
      val e = a.length / 2
      var j = 0
      var u = -1
      while (j < e) {
        if (u < 0 || ids(u) != a(2 * j))
          u = Arrays.binarySearch(ids, a(2 * j))
        val v = Arrays.binarySearch(ids, a(2 * j + 1))
        deg(u) += 1
        if (v >= 0) kept(u + 1) += 1
        a(j) = (u.toLong << 32) | (v.toLong & 0xffffffffL)
        j += 1
      }
      parts(p) = Arrays.copyOf(a, e)
    }
    // pass 2: counting sort into the adjacency, releasing each block
    for (u <- 0 until n) kept(u + 1) += kept(u)
    val off = kept
    val adj = new Array[Int](off(n))
    val fill = Arrays.copyOf(off, n)
    for (p <- parts.indices) {
      parts(p).foreach { x =>
        val v = x.toInt
        if (v >= 0) {
          val u = (x >>> 32).toInt
          adj(fill(u)) = v
          fill(u) += 1
        }
      }
      parts(p) = null
    }
    new LocalGraph(ids, deg, off, adj)
  }

  /** Distinct src keys of src-sorted pair blocks, ascending: a k-way
    * merge, so the only new array is node-sized. */
  private def mergedSources(parts: Array[Array[Long]]): Array[Long] = {
    val pos = new Array[Int](parts.length) // next pair per block
    def head(p: Int): Long = parts(p)(2 * pos(p))
    val heap = new java.util.PriorityQueue[Int](math.max(1, parts.length),
      (a: Int, b: Int) => java.lang.Long.compare(head(a), head(b)))
    parts.indices.filter(parts(_).nonEmpty).foreach(heap.add)
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    var last = 0L
    var any = false
    while (!heap.isEmpty) {
      val p = heap.poll()
      val s = head(p)
      if (!any || s != last) { out += s; last = s; any = true }
      while (2 * pos(p) < parts(p).length && head(p) == s) pos(p) += 1
      if (2 * pos(p) < parts(p).length) heap.add(p)
    }
    out.result()
  }
}
