package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.Platform

/**
 * Rows of one schema as `UnsafeRow` bytes, packed back to back into byte
 * chunks of at most [[PackedRows.ChunkBytes]] (a larger row gets a chunk
 * of its own), with one array of row end offsets per chunk. The value is
 * made of primitive arrays only, so serializing it is a bulk copy with no
 * per-row object, and no array nears the 2 GB limit. Row `i` is read
 * through a caller's reused [[UnsafeRow]] view that points into its
 * chunk ([[read]]); nothing is copied out. Both kernels hold their
 * right side in this form: the broadcast kernel ships it
 * ([[BroadcastSpatialJoinExec]]), and each partitioned leaf packs its
 * shuffled rows ([[PartitionedSpatialJoinExec]]).
 *
 * @param chunks   the rows' bytes
 * @param ends     per chunk, the end offset of each of its rows; a row
 *                 starts where the one before it ends, the first at 0
 * @param firstRow per chunk, the index of its first row; its last slot
 *                 is the row count
 */
final class PackedRows private (
    val numFields: Int,
    private val chunks: Array[Array[Byte]],
    private val ends: Array[Array[Int]],
    private val firstRow: Array[Int]) extends Serializable {

  def numRows: Int = firstRow(chunks.length)

  /** The packed bytes: the rows' `UnsafeRow` sizes, summed. */
  def sizeInBytes: Long = chunks.foldLeft(0L)(_ + _.length)

  /** Points `view` (an `UnsafeRow` of [[numFields]] fields) at row `i`
    * and returns it. The view stays valid until it is pointed elsewhere;
    * values read from it (strings, binaries) point into the chunk, which
    * never changes. */
  def read(i: Int, view: UnsafeRow): UnsafeRow = {
    var c = java.util.Arrays.binarySearch(firstRow, 0, chunks.length, i)
    if (c < 0) c = -c - 2 // the chunk whose first row comes before i
    val j = i - firstRow(c)
    val e = ends(c)
    val start = if (j == 0) 0 else e(j - 1)
    view.pointTo(chunks(c), Platform.BYTE_ARRAY_OFFSET + start, e(j) - start)
    view
  }
}

object PackedRows {

  /** The byte bound of a chunk holding more than one row. */
  val ChunkBytes: Int = 4 << 20

  /** Packs `rows` (of the types `schema`) in iteration order; a row that
    * is not an `UnsafeRow` is projected to one. Runs where the rows are:
    * one call per partition of the collect job. */
  def pack(rows: Iterator[InternalRow], schema: Array[DataType]): PackedRows = {
    lazy val toUnsafe = UnsafeProjection.create(schema)
    val chunks = Array.newBuilder[Array[Byte]]
    val ends = Array.newBuilder[Array[Int]]
    val firstRow = Array.newBuilder[Int]
    var buf = new Array[Byte](64 << 10)
    var used = 0
    var rowEnds = new Array[Int](256)
    var n = 0
    var total = 0
    def close(): Unit = if (n > 0) {
      chunks += java.util.Arrays.copyOf(buf, used)
      ends += java.util.Arrays.copyOf(rowEnds, n)
      firstRow += total
      total += n
      used = 0
      n = 0
      if (buf.length > ChunkBytes) buf = new Array[Byte](64 << 10) // after one oversized row
    }
    rows.foreach { r =>
      val u = r match { case u: UnsafeRow => u; case _ => toUnsafe(r) }
      val size = u.getSizeInBytes
      if (n > 0 && used.toLong + size > ChunkBytes) close()
      if (used + size > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(used + size, math.min(ChunkBytes, 2 * buf.length)))
      u.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + used)
      used += size
      if (n == rowEnds.length) rowEnds = java.util.Arrays.copyOf(rowEnds, 2 * n)
      rowEnds(n) = used
      n += 1
    }
    close()
    firstRow += total
    new PackedRows(schema.length, chunks.result(), ends.result(), firstRow.result())
  }

  /** `parts`, each of `numFields` fields, one after another, sharing
    * their chunks: row order is `parts` order, then each part's own. */
  def concat(parts: Array[PackedRows], numFields: Int): PackedRows = {
    val firstRow = Array.newBuilder[Int]
    var total = 0L
    parts.foreach { p =>
      var c = 0
      while (c < p.chunks.length) { firstRow += (total + p.firstRow(c)).toInt; c += 1 }
      total += p.numRows
      require(total < Int.MaxValue, s"more than ${Int.MaxValue - 1} rows")
    }
    firstRow += total.toInt
    new PackedRows(numFields, parts.flatMap(_.chunks), parts.flatMap(_.ends), firstRow.result())
  }
}
