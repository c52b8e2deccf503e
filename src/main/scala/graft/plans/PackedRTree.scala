package graft.plans

/**
 * Static packed R-tree over boxes, in the flatbush layout
 * (https://github.com/mourner/flatbush): entries sorted once by the
 * Hilbert value of their box centres, then packed bottom-up into nodes of
 * [[PackedRTree.NodeSize]] children, every level stored back to back in
 * the same primitive arrays.
 *
 * Entry `e` owns `boxes(4e until 4e + 4)` = (minX, minY, maxX, maxY).
 * Entries `[0, numItems)` are the items and `ids(e)` is the item's row
 * index; every later entry is a node and `ids(e)` is the entry of its
 * first child. A node's children are contiguous and end at the node size
 * or at the end of their level (`levelEnds`, ascending). The root is the
 * last entry.
 */
final class PackedRTree private (
    val numItems: Int,
    val boxes: Array[Double],
    val ids: Array[Int],
    levelEnds: Array[Int]) extends Serializable {

  import PackedRTree.NodeSize

  def isEmpty: Boolean = numItems == 0

  /** The entry of the root, or -1 for an empty tree. */
  def root: Int = ids.length - 1

  /** One past the last child of the node whose first child is `start`. */
  def childEnd(start: Int): Int = {
    var l = 0
    while (levelEnds(l) <= start) l += 1
    math.min(start + NodeSize, levelEnds(l))
  }

  /** Row indices of the items whose box meets the closed box, in no
    * particular order. */
  def search(minX: Double, minY: Double, maxX: Double, maxY: Double): Array[Int] = {
    if (isEmpty) return Array.emptyIntArray
    var out = new Array[Int](8)
    var n = 0
    var stack = new Array[Int](16)
    var sp = 0
    var start = root
    var end = root + 1
    while (start >= 0) {
      var e = start
      while (e < end) {
        val b = e << 2
        // `&`, not `&&`: one branch per entry, not four hard-to-predict ones
        if ((maxX >= boxes(b)) & (maxY >= boxes(b + 1)) & (minX <= boxes(b + 2)) & (minY <= boxes(b + 3))) {
          if (e < numItems) {
            if (n == out.length) out = java.util.Arrays.copyOf(out, n * 2)
            out(n) = ids(e); n += 1
          } else {
            if (sp == stack.length) stack = java.util.Arrays.copyOf(stack, sp * 2)
            stack(sp) = ids(e); sp += 1
          }
        }
        e += 1
      }
      if (sp == 0) start = -1
      else { sp -= 1; start = stack(sp); end = childEnd(start) }
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** A tree over the given item entries of this one. */
  def subset(entries: Array[Int]): PackedRTree = {
    val m = entries.length
    val b = new Array[Double](4 * m)
    val r = new Array[Int](m)
    var k = 0
    while (k < m) {
      System.arraycopy(boxes, entries(k) << 2, b, k << 2, 4)
      r(k) = ids(entries(k))
      k += 1
    }
    PackedRTree.build(m, b, r)
  }
}

object PackedRTree {

  /** Children per node, as flatbush's default. */
  val NodeSize = 16

  val Empty: PackedRTree = new PackedRTree(0, Array.emptyDoubleArray, Array.emptyIntArray, Array(0))

  /** Packs `n` items; item `i` has the box `boxes(4i until 4i + 4)` and
    * the row index `rows(i)`. Both arrays are read, not kept. */
  def build(n: Int, itemBoxes: Array[Double], rows: Array[Int]): PackedRTree = {
    if (n == 0) return Empty
    val endsB = Array.newBuilder[Int]
    var level = n
    var numNodes = n
    endsB += n
    while ({ level = (level + NodeSize - 1) / NodeSize; numNodes += level; endsB += numNodes; level != 1 }) ()
    val ends = endsB.result()
    val boxes = new Array[Double](numNodes * 4)
    val ids = new Array[Int](numNodes)

    // items in Hilbert order of their centres over the total extent; equal
    // values keep item order, so the layout is a function of the input
    var minX = Double.PositiveInfinity; var minY = Double.PositiveInfinity
    var maxX = Double.NegativeInfinity; var maxY = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val b = i << 2
      minX = math.min(minX, itemBoxes(b)); minY = math.min(minY, itemBoxes(b + 1))
      maxX = math.max(maxX, itemBoxes(b + 2)); maxY = math.max(maxY, itemBoxes(b + 3))
      i += 1
    }
    val sx = HilbertMax / (maxX - minX)
    val sy = HilbertMax / (maxY - minY)
    val keys = new Array[Int](n)
    i = 0
    while (i < n) {
      val b = i << 2
      keys(i) = hilbert(scaled((itemBoxes(b) + itemBoxes(b + 2)) / 2 - minX, sx),
        scaled((itemBoxes(b + 1) + itemBoxes(b + 3)) / 2 - minY, sy))
      i += 1
    }
    val order = hilbertOrder(keys)
    i = 0
    while (i < n) {
      val from = order(i)
      System.arraycopy(itemBoxes, from << 2, boxes, i << 2, 4)
      ids(i) = rows(from)
      i += 1
    }

    // each level's nodes bound runs of NodeSize entries of the level below
    var read = 0
    var write = n
    for (end <- ends.init) {
      while (read < end) {
        val first = read
        var nMinX = Double.PositiveInfinity; var nMinY = Double.PositiveInfinity
        var nMaxX = Double.NegativeInfinity; var nMaxY = Double.NegativeInfinity
        val stop = math.min(read + NodeSize, end)
        while (read < stop) {
          val b = read << 2
          nMinX = math.min(nMinX, boxes(b)); nMinY = math.min(nMinY, boxes(b + 1))
          nMaxX = math.max(nMaxX, boxes(b + 2)); nMaxY = math.max(nMaxY, boxes(b + 3))
          read += 1
        }
        val w = write << 2
        boxes(w) = nMinX; boxes(w + 1) = nMinY; boxes(w + 2) = nMaxX; boxes(w + 3) = nMaxY
        ids(write) = first
        write += 1
      }
    }
    new PackedRTree(n, boxes, ids, ends)
  }

  private val HilbertMax = 65535.0

  /** Positions of `keys` in ascending unsigned order, equal keys in
    * position order: a two-pass (16 bits each) stable LSD radix sort. */
  private def hilbertOrder(keys: Array[Int]): Array[Int] = {
    val n = keys.length
    var from = Array.range(0, n)
    var to = new Array[Int](n)
    var shift = 0
    while (shift < 32) {
      val start = new Array[Int](65537)
      var i = 0
      while (i < n) { start(((keys(i) >>> shift) & 0xffff) + 1) += 1; i += 1 }
      var d = 0
      while (d < 65536) { start(d + 1) += start(d); d += 1 }
      i = 0
      while (i < n) {
        val p = from(i)
        val digit = (keys(p) >>> shift) & 0xffff
        to(start(digit)) = p
        start(digit) += 1
        i += 1
      }
      val t = from; from = to; to = t
      shift += 16
    }
    from
  }

  /** A centre offset on the 16-bit Hilbert grid; a degenerate extent
    * (one distinct centre) or a non-finite one maps to 0. */
  private def scaled(d: Double, s: Double): Int = {
    val v = d * s
    if (v >= 0 && v <= HilbertMax) v.toInt else 0
  }

  /** Hilbert index of (x, y) on a 2^16 grid ("Fast Hilbert curve
    * generation, sorting, and range queries", R. Rydahl; as flatbush). */
  private def hilbert(x: Int, y: Int): Int = {
    var a = x ^ y
    var b = 0xffff ^ a
    var c = 0xffff ^ (x | y)
    var d = x & (y ^ 0xffff)

    var aa = a | (b >>> 1)
    var bb = (a >>> 1) ^ a
    var cc = ((c >>> 1) ^ (b & (d >>> 1))) ^ c
    var dd = ((a & (c >>> 1)) ^ (d >>> 1)) ^ d

    a = aa; b = bb; c = cc; d = dd
    aa = (a & (a >>> 2)) ^ (b & (b >>> 2))
    bb = (a & (b >>> 2)) ^ (b & ((a ^ b) >>> 2))
    cc ^= (a & (c >>> 2)) ^ (b & (d >>> 2))
    dd ^= (b & (c >>> 2)) ^ ((a ^ b) & (d >>> 2))

    a = aa; b = bb; c = cc; d = dd
    aa = (a & (a >>> 4)) ^ (b & (b >>> 4))
    bb = (a & (b >>> 4)) ^ (b & ((a ^ b) >>> 4))
    cc ^= (a & (c >>> 4)) ^ (b & (d >>> 4))
    dd ^= (b & (c >>> 4)) ^ ((a ^ b) & (d >>> 4))

    a = aa; b = bb; c = cc; d = dd
    cc ^= (a & (c >>> 8)) ^ (b & (d >>> 8))
    dd ^= (b & (c >>> 8)) ^ ((a ^ b) & (d >>> 8))

    a = cc ^ (cc >>> 1)
    b = dd ^ (dd >>> 1)

    var i0 = x ^ y
    var i1 = b | (0xffff ^ (i0 | a))

    i0 = (i0 | (i0 << 8)) & 0x00ff00ff
    i0 = (i0 | (i0 << 4)) & 0x0f0f0f0f
    i0 = (i0 | (i0 << 2)) & 0x33333333
    i0 = (i0 | (i0 << 1)) & 0x55555555

    i1 = (i1 | (i1 << 8)) & 0x00ff00ff
    i1 = (i1 | (i1 << 4)) & 0x0f0f0f0f
    i1 = (i1 | (i1 << 2)) & 0x33333333
    i1 = (i1 | (i1 << 1)) & 0x55555555

    (i1 << 1) | i0
  }
}
