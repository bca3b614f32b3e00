package graft.rank

import scala.collection.mutable

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform

import graft.functions.QueryParam

/** One serve partition of the postings leaf: its rows, in leaf order, packed
  * in one byte array (row r at `offsets(r)` until `offsets(r + 1)`), and
  * for each word id of `words` (ascending) the numbers of its rows,
  * ascending: `rowNums(starts(i))` until `rowNums(starts(i + 1))`. */
private[rank] final class PostingsBlock(numFields: Int, bytes: Array[Byte], offsets: Array[Int],
                                        words: Array[Long], starts: Array[Int], rowNums: Array[Int])
    extends Serializable {

  /** The rows of the words `ids`, distinct, in leaf order — the rows a scan
    * of the block filtered on those words emits, in its order. One row
    * object is pointed at each row in turn. */
  def rowsOf(ids: Array[Long]): Iterator[InternalRow] = {
    val picked = ids.flatMap { w =>
      val i = java.util.Arrays.binarySearch(words, w)
      if (i < 0) Array.emptyIntArray else java.util.Arrays.copyOfRange(rowNums, starts(i), starts(i + 1))
    }
    java.util.Arrays.sort(picked)
    val row = new UnsafeRow(numFields)
    picked.iterator.map { r =>
      row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + offsets(r), offsets(r + 1) - offsets(r))
      row
    }
  }
}

private[rank] object PostingsBlock {
  /** The block of `rows`, UnsafeRows of `numFields` fields whose first is
    * the word id. */
  def apply(numFields: Int, rows: Iterator[InternalRow]): PostingsBlock = {
    val bytes = new java.io.ByteArrayOutputStream()
    val offsets = new mutable.ArrayBuilder.ofInt
    val byWord = mutable.LongMap.empty[mutable.ArrayBuilder.ofInt]
    val buffer = new Array[Byte](4096)
    var n = 0
    offsets += 0
    rows.foreach { r =>
      val row = r.asInstanceOf[UnsafeRow]
      row.writeToStream(bytes, buffer)
      offsets += bytes.size()
      byWord.getOrElseUpdate(row.getLong(0), new mutable.ArrayBuilder.ofInt) += n
      n += 1
    }
    val words = byWord.keys.toArray.sorted
    val starts = words.scanLeft(0)((at, w) => at + byWord(w).length)
    new PostingsBlock(numFields, bytes.toByteArray, offsets.result(),
      words, starts, words.flatMap(byWord(_).result()))
  }
}

/** The serve's postings leaf: partition p emits the rows of block p whose
  * word is one of the query's distinct word ids, which the query's job
  * carries in [[QueryParam]] slot `idsSlot` (ascending). */
private[rank] final class WordSlices(val blocks: RDD[PostingsBlock], idsSlot: Int)
    extends RDD[InternalRow](blocks) {
  override protected def getPartitions: Array[Partition] = blocks.partitions

  override def compute(split: Partition, task: TaskContext): Iterator[InternalRow] =
    blocks.iterator(split, task).next()
      .rowsOf(QueryParam.valueOf(idsSlot).asInstanceOf[ArrayData].toLongArray())
}
