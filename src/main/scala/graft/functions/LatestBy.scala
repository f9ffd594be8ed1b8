package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types._

/** Native last-writer-wins aggregate: `latest_by(payload, ord1[, ord2])`
  * keeps the payload struct of the row with the lexicographically
  * greatest (ord1, ord2). The k=1 specialization of [[BoundedTopK]] with
  * no array buffer — one struct reference per group.
  *
  * Why not `max_by(struct(...), struct(ord1, ord2))`: a struct-typed
  * DeclarativeAggregate buffer is not mutable-buffer-compatible, so
  * HashAggregateExec refuses it and Catalyst plans **SortAggregate** —
  * sorting both sides of the resolution shuffle (measured 2.1× slower
  * than the object-hash form on the snapshot fold, BENCH.md round 3).
  * As a TypedImperativeAggregate this plans **ObjectHashAggregate** with
  * map-side partial combine: per-key data crossing the wire is one
  * (ord, ord, payload) triple, and nothing sorts. This sits on the
  * store's merge-on-read READ path (IcebergLikeTable.resolveKeepSeq) —
  * every snapshot read, compaction, and CDC read of a delta-bearing
  * table resolves through it, so the aggregate's shape IS the read
  * path's scale shape.
  *
  * Semantics (mirrors `max_by` + the snapshot fold's tie-break): rows
  * with null ord1 or null payload are ignored; within a partial, ties on
  * (ord1, ord2) keep the later-seen row (the fold's `>=`); across
  * partial merges the incumbent wins ties. Deterministic whenever
  * (ord1, ord2) is unique per group — true for `__seq` (one row per key
  * per commit) and (turn_idx, ts).
  */
case class LatestBy(payload: Expression, ord1: Expression, ord2: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LatestBy.Buf] with TernaryLike[Expression] {

  override def first: Expression = payload
  override def second: Expression = ord1
  override def third: Expression = ord2
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): LatestBy =
    copy(payload = f, ord1 = s, ord2 = t)

  private def ordOk(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | TimestampType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ordOk(ord1.dataType) || !ordOk(ord2.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"latest_by ordering must be integral or timestamp, got " +
          s"${ord1.dataType.simpleString}, ${ord2.dataType.simpleString}")
    else payload.dataType match {
      case _: StructType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"latest_by payload must be a struct, got ${other.simpleString}")
    }

  private def payloadType: StructType = payload.dataType.asInstanceOf[StructType]
  override def dataType: DataType = payload.dataType
  override def nullable: Boolean = true


  override def createAggregationBuffer(): LatestBy.Buf = new LatestBy.Buf

  /** Update path is COMPILED, not interpreted: ObjectHashAggregate sits
    * outside whole-stage codegen, so a naive `expr.eval(input)` per row
    * is interpreted Catalyst — measured 1.9× slower than the codegen'd
    * SortAggregate max_by it replaces on an ascending-ordered fold
    * (every row wins the buffer → every row paid an interpreted struct
    * build + generic copy). Janino-compiled UnsafeProjections make the
    * ord check one compiled call and a win a flat-buffer memcpy.
    */
  @transient private lazy val ordProj = {
    def widen(e: Expression): Expression = e.dataType match {
      case LongType | TimestampType => e // physically long already
      case _ => org.apache.spark.sql.catalyst.expressions.Cast(e, LongType)
    }
    UnsafeProjection.create(Array(widen(ord1), widen(ord2)))
  }
  @transient private lazy val payloadProj =
    UnsafeProjection.create(Array(payload))

  override def update(buf: LatestBy.Buf, input: InternalRow): LatestBy.Buf = {
    val o = ordProj(input)
    if (!o.isNullAt(0)) {
      val o1 = o.getLong(0)
      val o2 = if (o.isNullAt(1)) Long.MinValue else o.getLong(1)
      // cheap reject before evaluating (and copying) the payload
      if (buf.row == null || o1 > buf.o1 || (o1 == buf.o1 && o2 >= buf.o2)) {
        val p = payloadProj(input)
        if (!p.isNullAt(0))
          buf.set(o1, o2, p.getStruct(0, payloadType.size).copy())
      }
    }
    buf
  }

  override def merge(a: LatestBy.Buf, b: LatestBy.Buf): LatestBy.Buf = {
    if (b.row != null &&
        (a.row == null || b.o1 > a.o1 || (b.o1 == a.o1 && b.o2 > a.o2)))
      a.set(b.o1, b.o2, b.row)
    a
  }

  override def eval(buf: LatestBy.Buf): Any = buf.row

  // ---- shuffle format: one UnsafeRow of (ord1, ord2, payload) ----------
  @transient private lazy val serProj =
    UnsafeProjection.create(Array[DataType](LongType, LongType, payloadType))

  override def serialize(buf: LatestBy.Buf): Array[Byte] =
    if (buf.row == null) Array.emptyByteArray
    else serProj(InternalRow(buf.o1, buf.o2, buf.row)).getBytes

  override def deserialize(bytes: Array[Byte]): LatestBy.Buf = {
    val buf = new LatestBy.Buf
    if (bytes.nonEmpty) {
      val u = new UnsafeRow(3)
      u.pointTo(bytes, bytes.length)
      buf.set(u.getLong(0), u.getLong(1), u.getStruct(2, payloadType.size).copy())
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): LatestBy =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): LatestBy =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "latest_by"
}

object LatestBy {
  /** Mutable 1-slot buffer: the winning (ord1, ord2) and its payload. */
  final class Buf {
    var o1: Long = Long.MinValue
    var o2: Long = Long.MinValue
    var row: InternalRow = _
    def set(a: Long, b: Long, r: InternalRow): Unit = { o1 = a; o2 = b; row = r }
  }
}
