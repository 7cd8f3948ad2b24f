package graft.functions

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Frequent-items (heavy-hitter) sketch aggregate — the Misra-Gries /
  * Space-Saving family via Apache DataSketches' `ItemsSketch` (the same
  * library Spark's own HLL functions wrap), exposed as a Catalyst
  * [[TypedImperativeAggregate]].
  *
  * Why a sketch and not `groupBy(key).count`: the exact form shuffles the
  * FULL key stream (every token of a 100 TB corpus moves once, keyed by
  * token) to find the handful of keys that matter. The sketch inverts the
  * cost: each partition folds its stream into a bounded `maxMapSize`-entry
  * map, and only those kilobyte buffers move in the final merge — heavy
  * hitters with ZERO data-sized shuffle, at the price of estimates with a
  * PROVEN error band: estimate ∈ [lb, ub], ub - lb ≤ getMaximumError ≤
  * N·3.5/maxMapSize, and NO FALSE NEGATIVES above that band (every item
  * with true count > maxError is retained — the Misra-Gries guarantee).
  * [[graft.operators.TextOps.frequentTokens]] composes this with an exact
  * verify pass over just the returned candidates — the Bloom-prefilter /
  * exact-verify pattern of the decontamination operator, applied to
  * frequency.
  *
  * The eval result is the SERIALIZED sketch (binary) — persistable as a
  * standing artifact and mergeable across ingests ([[FreqItems.decode]] /
  * [[FreqItems.mergeBytes]]), the same bytes-level incremental contract
  * as the HLL distinct sketches.
  */
case class FreqItemsAgg(child: Expression, maxMapSize: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FreqItems.Sketch]
  with UnaryLike[Expression] {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"freq_items_agg takes a STRING column, got ${child.dataType.sql}")

  override def createAggregationBuffer(): FreqItems.Sketch =
    new FreqItems.Sketch(new ItemsSketch[String](maxMapSize))

  override def update(buffer: FreqItems.Sketch,
      input: InternalRow): FreqItems.Sketch = {
    val v = child.eval(input)
    if (v != null) buffer.sketch.update(v.asInstanceOf[UTF8String].toString)
    buffer
  }

  override def merge(buffer: FreqItems.Sketch,
      other: FreqItems.Sketch): FreqItems.Sketch = buffer.merge(other)

  override def eval(buffer: FreqItems.Sketch): Any = serialize(buffer)

  override def serialize(buffer: FreqItems.Sketch): Array[Byte] =
    buffer.toBytes

  override def deserialize(storage: Array[Byte]): FreqItems.Sketch =
    FreqItems.Sketch.fromBytes(storage)

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqItemsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqItemsAgg =
    copy(inputAggBufferOffset = newOffset)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override protected def withNewChildInternal(
      newChild: Expression): FreqItemsAgg = copy(child = newChild)
}

object FreqItems {

  /** Aggregate a StringType column into a serialized frequent-items
    * sketch. `maxMapSize` (power of two ≥ 8) is the accuracy lever:
    * error band ≤ N·3.5/maxMapSize. */
  def freqItemsAgg(c: Column, maxMapSize: Int): Column = {
    require(maxMapSize >= 8 && Integer.bitCount(maxMapSize) == 1,
      s"maxMapSize must be a power of two >= 8, got $maxMapSize")
    // the string-input contract is enforced by the aggregate's
    // checkInputDataTypes at analysis time (the Column here is not yet
    // resolved against a plan, so its dataType is unknowable)
    graftshim.toColumn(
      FreqItemsAgg(graftshim.toExpression(c), maxMapSize)
        .toAggregateExpression())
  }

  /** One decoded candidate row: `count ∈ [lb, ub]` always; `est` is the
    * sketch's point estimate. */
  final case class Candidate(item: String, est: Long, lb: Long, ub: Long)

  /** A DataSketches `ItemsSketch` plus the stream length and error offset
    * the library drops. In datasketches 6.2.0 `ItemsSketch.isEmpty` means
    * "no active items", and a purge can empty the active map (a 32-entry
    * sketch fed 200 distinct strings holds none, with stream length 200
    * and error 8). `toByteArray` then writes the bare empty preamble and
    * `merge` skips the sketch, so both the length and the error offset
    * vanish — the latter breaks the no-false-negatives bound of whatever
    * it is merged into. `droppedN`/`droppedErr` keep what `sketch` itself
    * no longer holds, and the serialized form leads with the true totals. */
  final class Sketch(val sketch: ItemsSketch[String],
      private var droppedN: Long = 0L, private var droppedErr: Long = 0L) {

    def streamLength: Long = sketch.getStreamLength + droppedN
    def maxError: Long = sketch.getMaximumError + droppedErr

    def merge(other: Sketch): Sketch = {
      if (other.sketch.isEmpty) {
        droppedN += other.streamLength
        droppedErr += other.maxError
      } else {
        sketch.merge(other.sketch)
        droppedN += other.droppedN
        droppedErr += other.droppedErr
      }
      this
    }

    /** Candidates above `threshold`, bounds widened by the dropped error. */
    def frequentItems(threshold: Long): Seq[Candidate] =
      sketch.getFrequentItems(threshold - droppedErr,
          ErrorType.NO_FALSE_NEGATIVES).toSeq
        .map(r => Candidate(r.getItem, r.getEstimate + droppedErr,
          r.getLowerBound, r.getUpperBound + droppedErr))

    /** (stream length, maximum error) as two longs, then the library's
      * own image. */
    def toBytes: Array[Byte] = {
      val sk = sketch.toByteArray(Sketch.serde)
      java.nio.ByteBuffer.allocate(Sketch.HeaderBytes + sk.length)
        .putLong(streamLength).putLong(maxError).put(sk).array()
    }
  }

  object Sketch {
    private val serde = new ArrayOfStringsSerDe
    private val HeaderBytes = 16

    def fromBytes(bytes: Array[Byte]): Sketch = {
      val buf = java.nio.ByteBuffer.wrap(bytes)
      val (n, err) = (buf.getLong, buf.getLong)
      val sk = ItemsSketch.getInstance(
        Memory.wrap(bytes).region(HeaderBytes, bytes.length - HeaderBytes),
        serde)
      new Sketch(sk, n - sk.getStreamLength, err - sk.getMaximumError)
    }
  }

  /** Decode a serialized sketch: (stream length, maximum error, the
    * NO-FALSE-NEGATIVES candidate list above `threshold`). Every item
    * whose TRUE count ≥ max(threshold, maxError + 1) is guaranteed
    * present. */
  def decode(bytes: Array[Byte], threshold: Long): (Long, Long, Seq[Candidate]) = {
    val fs = Sketch.fromBytes(bytes)
    (fs.streamLength, fs.maxError, fs.frequentItems(threshold))
  }

  /** Merge two serialized sketches into one (register-level, loss-free
    * within the sketch's own guarantees) — the ingest path: the standing
    * sketch advances by each increment's bytes. */
  def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    Sketch.fromBytes(a).merge(Sketch.fromBytes(b)).toBytes
}
