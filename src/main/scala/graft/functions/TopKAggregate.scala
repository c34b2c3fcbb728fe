package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge.{toColumn => column, toExpression => expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded top-k-by-score aggregate.
  *
  * Spark 4's `InferWindowGroupLimit` already bounds the
  * `row_number().over(...)  <= k` idiom's shuffle (a partial
  * WindowGroupLimit runs before the exchange), but that operator needs its
  * input SORTED: every scored row is still sort-ordered per partition —
  * O(n log n) in the corpus — before the limit drops it, and the final
  * side sorts again for the Window. This aggregate keeps an O(k) bounded
  * buffer of the best (score desc, id asc) entries per group per partition
  * (no sort of the scored stream; a worst-entry gate rejects most rows in
  * O(1)), merges partials, and emits the ranked array — one record per
  * (partition, group) on the shuffle, and the only sorts ever performed
  * are over ≤ 4k-entry buffers. Measured vs the window form on the sf0.1
  * embeddings (SCALE.md "Measured scale constants", knntopk point): 5× fewer shuffle records, ~1.5×
  * faster end-to-end; at corpus scale the removed per-partition sort of
  * all scored rows is the dominant term.
  *
  * Determinism matches the window form exactly: ties on score break by id
  * ascending. Ids may be int/long/string (the engine's id columns).
  */
object TopKAggregate {

  /** Mutable per-group buffer: unsorted appends, periodic compaction to k,
    * and a worst-entry gate once k entries exist so a full partition scan
    * appends O(k) survivors, not O(rows).
    */
  final class TopKBuf(val k: Int) {
    val entries: ArrayBuffer[(Double, Any)] = new ArrayBuffer[(Double, Any)]()
    var full: Boolean = false
    var worstScore: Double = Double.NegativeInfinity
    var worstId: Any = null
  }

  private def idLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Int, y: Int) => x < y
    case (x: UTF8String, y: UTF8String) => x.compareTo(y) < 0
    case _ => String.valueOf(a) < String.valueOf(b)
  }

  /** Score comparison with a TOTAL order: equal doubles (incl. -0.0 vs
    * 0.0) compare 0, otherwise `java.lang.Double.compare` — so NaN ranks
    * above every finite score, exactly like Spark's SQL double ordering
    * (`SQLOrderingUtil.compareDoubles`) and therefore like the
    * `row_number().over(score desc)` window this aggregate replaced. The
    * naive `sa > sb || sa == sb` form was intransitive under NaN (both
    * comparisons false both ways): a NaN entry could become the
    * worst-entry gate and silently reject every later candidate, and
    * `sortWith` could throw TimSort's contract violation.
    */
  private def cmpScore(sa: Double, sb: Double): Int =
    if (sa == sb) 0 else java.lang.Double.compare(sa, sb)

  /** (score desc, id asc) — identical to the window form's ordering,
    * NaN included (NaN sorts first under a descending double order).
    */
  private def better(sa: Double, ia: Any, sb: Double, ib: Any): Boolean = {
    val c = cmpScore(sa, sb)
    if (c != 0) c > 0 else idLt(ia, ib)
  }

  private def compact(buf: TopKBuf): Unit = {
    val sorted = buf.entries.sortWith((a, b) => better(a._1, a._2, b._1, b._2))
    buf.entries.clear()
    buf.entries ++= sorted.take(buf.k)
    if (buf.entries.length == buf.k) {
      buf.full = true
      val worst = buf.entries.last
      buf.worstScore = worst._1
      buf.worstId = worst._2
    }
  }

  case class TopKByScoreAgg(
      left: Expression,   // score (double)
      right: Expression,  // id (int | long | string)
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuf] with BinaryLike[Expression] {

    require(k > 0, s"topk_by needs k > 0, got $k")
    // appends between compactions; bounded so a skewed group's buffer
    // never grows past a few k entries
    private val compactTrigger = math.max(4 * k, 64)

    override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

    override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
      val s = left.eval(input)
      val id = right.eval(input)
      if (s != null && id != null) {
        val score = s.asInstanceOf[Double]
        if (!buf.full || better(score, id, buf.worstScore, buf.worstId)) {
          // UTF8String from an unsafe row is a pointer into a reused
          // buffer — clone before retaining across rows
          val owned = id match {
            case u: UTF8String => u.clone()
            case other => other
          }
          buf.entries += ((score, owned))
          if (buf.entries.length >= compactTrigger) compact(buf)
        }
      }
      buf
    }

    override def merge(buf: TopKBuf, other: TopKBuf): TopKBuf = {
      buf.entries ++= other.entries
      compact(buf)
      buf
    }

    override def eval(buf: TopKBuf): Any = {
      compact(buf)
      new GenericArrayData(buf.entries.map { case (score, id) =>
        new GenericInternalRow(Array[Any](id, score))
      }.toArray[Any])
    }

    override def serialize(buf: TopKBuf): Array[Byte] = {
      compact(buf)
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(buf.entries.length)
      buf.entries.foreach { case (score, id) =>
        out.writeDouble(score)
        id match {
          case x: Long => out.writeLong(x)
          case x: Int => out.writeInt(x)
          case u: UTF8String =>
            val b = u.getBytes
            out.writeInt(b.length); out.write(b)
          case other => throw new IllegalStateException(
            s"topk_by id type not serializable: ${other.getClass}")
        }
      }
      out.flush()
      bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): TopKBuf = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val buf = new TopKBuf(k)
      val n = in.readInt()
      var i = 0
      while (i < n) {
        val score = in.readDouble()
        val id: Any = right.dataType match {
          case LongType => in.readLong()
          case IntegerType => in.readInt()
          case StringType =>
            val b = new Array[Byte](in.readInt()); in.readFully(b)
            UTF8String.fromBytes(b)
          case other => throw new IllegalStateException(
            s"topk_by id type not deserializable: $other")
        }
        buf.entries += ((score, id))
        i += 1
      }
      compact(buf)
      buf
    }

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
      if (left.dataType != DoubleType)
        TypeCheckFailure(s"topk_by score must be DOUBLE, got ${left.dataType.sql}")
      else right.dataType match {
        case LongType | IntegerType | StringType => TypeCheckSuccess
        case other => TypeCheckFailure(
          s"topk_by id must be INT, BIGINT or STRING, got ${other.sql}")
      }
    }

    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("id", right.dataType, nullable = false),
        StructField("score", DoubleType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = false

    override def withNewMutableAggBufferOffset(o: Int): TopKByScoreAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TopKByScoreAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): TopKByScoreAgg =
      copy(left = l, right = r)
  }

  /** Aggregate: ARRAY<STRUCT<id, score>> of the k best (score desc, id asc)
    * input rows — the map-side-combinable replacement for
    * rank-then-filter windows.
    */
  def topk_by(score: Column, id: Column, k: Int): Column =
    column(TopKByScoreAgg(expression(score), expression(id), k).toAggregateExpression())
}
