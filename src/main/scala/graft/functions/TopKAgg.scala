package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{col, posexplode}
import org.apache.spark.sql.types._

/** Bounded max-heap of (dist, id) pairs keeping the k smallest under the
  * ordering (dist asc, id asc), with Spark's double order: NaN sorts last
  * and -0.0 ties 0.0. ~k entries per aggregation buffer — this is
  * what makes 100 TB top-k work: each partition reduces to k rows before
  * the shuffle (partial aggregation), instead of sorting |Q|·|B| rows under
  * a rank window (SURVEY.md §4.2, §7.3.5; semantics of
  * py/bruteforce.py:17-18 sort+slice).
  */
final class TopKBuffer(val k: Int) {
  import TopKBuffer.cmp

  // max-heap: root = worst kept entry under (dist, id)
  val heap = new java.util.PriorityQueue[(Double, Long)](
    math.max(k, 1),
    new java.util.Comparator[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int =
        cmp(b._1, b._2, a._1, a._2)
    }
  )

  def add(dist: Double, id: Long): Unit = {
    if (heap.size < k) heap.add((dist, id))
    else {
      val worst = heap.peek()
      if (cmp(dist, id, worst._1, worst._2) < 0) {
        heap.poll()
        heap.add((dist, id))
      }
    }
  }

  def sortedEntries: Array[(Double, Long)] = {
    val arr = heap.toArray(new Array[(Double, Long)](heap.size))
    scala.util.Sorting.stableSort(
      arr,
      (a: (Double, Long), b: (Double, Long)) => cmp(a._1, a._2, b._1, b._2) < 0)
    arr
  }
}

object TopKBuffer {
  /** (dist, id) order; dists compare as Spark orders doubles. */
  private def cmp(da: Double, ia: Long, db: Double, ib: Long): Int = {
    val c = if (da == db) 0 else java.lang.Double.compare(da, db)
    if (c != 0) c else java.lang.Long.compare(ia, ib)
  }
}

/** Aggregate function `graft_topk(dist, id)`: the k smallest (dist, id)
  * pairs per group as `array<struct<dist double, id bigint>>` ascending.
  * Inputs implicitly cast to (double, bigint) at analysis; non-numeric
  * arguments are an analysis-time error. `k` must be a positive literal
  * integer (validated at function-resolution time in
  * [[graft.GraftExtensions]]).
  */
case class TopKAgg(
    dist: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[TopKBuffer] with ImplicitCastInputTypes {

  require(k >= 1, s"graft_topk: k must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(dist, id)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("dist", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false)
    )),
    containsNull = false
  )

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val d = dist.eval(input)
    val i = id.eval(input)
    if (d != null && i != null) {
      buf.add(d.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    val it = other.heap.iterator()
    while (it.hasNext) {
      val (d, i) = it.next()
      buf.add(d, i)
    }
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val entries = buf.sortedEntries
    new GenericArrayData(entries.map { case (d, i) =>
      InternalRow(d, i)
    }.toArray[Any])
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val entries = buf.sortedEntries
    val bb = ByteBuffer.allocate(4 + 16 * entries.length)
    bb.putInt(entries.length)
    entries.foreach { case (d, i) => bb.putDouble(d); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    var j = 0
    while (j < n) {
      buf.add(bb.getDouble, bb.getLong)
      j += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(dist = newChildren(0), id = newChildren(1))
}

/** The one top-k-per-key operator. Every site that turns a [[topK]] heap
  * into ranked rows calls [[bestPer]]; none spells the heap's explode
  * itself, and a source guard in TopKAggSpec keeps it so. Callers keep
  * their own final `select` for renames, negations, rounding and the
  * `rnk` width. Sites that fill several heaps in one aggregate (one per
  * recall cut) or carry other aggregates beside the heap stay as they are.
  */
object TopKAgg {

  /** Column: k smallest (dist, id) pairs ascending, as an aggregate. */
  def topK(distCol: Column, idCol: Column, k: Int): Column =
    GraftColumnBridge.column(
      TopKAgg(
        GraftColumnBridge.expression(distCol),
        GraftColumnBridge.expression(idCol),
        k
      ).toAggregateExpression()
    )

  /** The best `k` rows of `df` per `keys` by (score, id) ascending, with
    * [[TopKBuffer]]'s order (NaN last, -0.0 ties 0.0): the bounded-heap
    * aggregate (partial aggregation before the shuffle), then one row per
    * kept entry. Returns `(keys…, <id>: bigint, dist: double, rnk: int)`
    * with `dist` the score and `rnk` 1..n, n = min(k, group size).
    */
  def bestPer(
      df: DataFrame,
      keys: Seq[String],
      score: Column,
      id: String,
      k: Int
  ): DataFrame = {
    val keyCols = keys.map(col)
    df.groupBy(keyCols: _*)
      .agg(topK(score, col(id), k).as("tk"))
      .select(keyCols :+ posexplode(col("tk")).as(Seq("pos", "e")): _*)
      .select(keyCols ++ Seq(
        col("e.id").as(id),
        col("e.dist").as("dist"),
        (col("pos") + 1).cast("int").as("rnk")): _*)
  }
}
