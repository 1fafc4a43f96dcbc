package graft.kernel

import org.apache.spark.{Partition, Partitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.util.GraftSizedValue

/** The delta exchange: the one netting shuffle of the maintained advance.
  * It returns the rows `rows.reduceByKey(part, merge)` returns — the same
  * multiset, keys compared by boxed `equals` (a NaN inside a `Seq` key
  * stays apart from another NaN, as there), zero sums kept, every row in
  * partition `part.getPartition(key)` and `part` claimed as the
  * partitioner — without the bookkeeping `reduceByKey` pays per row:
  *
  *  - the map side nets each partition in a plain hash map and emits ONE
  *    record per non-empty target partition, an array of alternating
  *    keys and values behind a declared size ([[GraftSizedValue]]), so
  *    Spark's `SizeTracker` never walks boxed rows;
  *  - the shuffle carries no `Aggregator` and no map-side combine, so the
  *    write takes the bypass path and the read returns the buckets as
  *    they are, and the reduce side nets them in a hash map instead of
  *    an `ExternalAppendOnlyMap`;
  *  - every function is a named class, so `ClosureCleaner` has no lambda
  *    class file to read on the advance path.
  *
  * Input already partitioned by `part` nets in place, with no shuffle
  * (as `reduceByKey` skips its shuffle there). Both sides hold one
  * partition's distinct keys in memory: delta-sized on the advance path.
  */
object Exchange {

  /** Declared bytes per netted row of a bucket (a boxed key and value). */
  private val RowBytes = 96L

  private type Bucket = GraftSizedValue[Array[Any]]

  /** `rows` netted per key under `merge` into `part`'s partitions. */
  def net[K, V](rows: RDD[(K, V)], part: Partitioner,
      merge: (V, V) => V): RDD[(K, V)] =
    if (rows.partitioner.contains(part))
      rows.mapPartitions(new NetInPlace[K, V](merge), preservesPartitioning = true)
    else {
      val buckets = rows.mapPartitions(
        new MapSide[K, V](part, merge), preservesPartitioning = false)
      new Netted[K, V](
        new ShuffledRDD[Int, Bucket, Bucket](buckets, new Preassigned(part.numPartitions)),
        part, merge)
    }

  /** Signed weights summed per key. */
  def sum[K](rows: RDD[(K, Long)], part: Partitioner): RDD[(K, Long)] =
    net(rows, part, Sum)

  /** One row per key: the first value met wins (set inserts). */
  def distinct[K, V](rows: RDD[(K, V)], part: Partitioner): RDD[(K, V)] =
    net(rows, part, new KeepFirst[V])

  object Sum extends ((Long, Long) => Long) with Serializable {
    def apply(a: Long, b: Long): Long = a + b
  }

  final class KeepFirst[V] extends ((V, V) => V) with Serializable {
    def apply(a: V, b: V): V = a
  }

  /** Fold `(k, v)` into `m` under `merge`; a null value is a value. */
  private def netInto[V](m: java.util.HashMap[Any, Any], k: Any, v: Any,
      merge: (V, V) => V): Unit = {
    val old = m.get(k)
    if (old == null && !m.containsKey(k)) m.put(k, v)
    else m.put(k, merge(old.asInstanceOf[V], v.asInstanceOf[V]))
  }

  private def entries[K, V](m: java.util.HashMap[Any, Any]): Iterator[(K, V)] = {
    val it = m.entrySet.iterator
    new Iterator[(K, V)] {
      def hasNext: Boolean = it.hasNext
      def next(): (K, V) = {
        val e = it.next()
        (e.getKey.asInstanceOf[K], e.getValue.asInstanceOf[V])
      }
    }
  }

  private final class NetInPlace[K, V](merge: (V, V) => V)
      extends (Iterator[(K, V)] => Iterator[(K, V)]) with Serializable {
    def apply(it: Iterator[(K, V)]): Iterator[(K, V)] = {
      val m = new java.util.HashMap[Any, Any]()
      it.foreach { case (k, v) => netInto(m, k, v, merge) }
      entries(m)
    }
  }

  private final class MapSide[K, V](part: Partitioner, merge: (V, V) => V)
      extends (Iterator[(K, V)] => Iterator[(Int, Bucket)]) with Serializable {
    def apply(it: Iterator[(K, V)]): Iterator[(Int, Bucket)] = {
      val n = part.numPartitions
      val maps = new Array[java.util.HashMap[Any, Any]](n)
      it.foreach { case (k, v) =>
        val p = part.getPartition(k)
        if (maps(p) == null) maps(p) = new java.util.HashMap[Any, Any]()
        netInto(maps(p), k, v, merge)
      }
      Iterator.range(0, n).filter(maps(_) != null).map { p =>
        val m = maps(p)
        val flat = new Array[Any](2 * m.size)
        var i = 0
        val es = m.entrySet.iterator
        while (es.hasNext) {
          val e = es.next()
          flat(i) = e.getKey; flat(i + 1) = e.getValue
          i += 2
        }
        (p, new GraftSizedValue(flat, 64L + RowBytes * m.size))
      }
    }
  }

  /** Buckets already carry their target partition as the key. */
  private final class Preassigned(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** The reduce side: nets partition i's buckets, claiming `part`. */
  private final class Netted[K, V](
      buckets: RDD[(Int, Bucket)], part: Partitioner, merge: (V, V) => V)
      extends RDD[(K, V)](buckets) {
    override val partitioner: Option[Partitioner] = Some(part)
    override protected def getPartitions: Array[Partition] =
      firstParent[(Int, Bucket)].partitions
    override def compute(split: Partition, context: TaskContext): Iterator[(K, V)] = {
      val m = new java.util.HashMap[Any, Any]()
      firstParent[(Int, Bucket)].iterator(split, context).foreach { b =>
        val flat = b._2.value
        var i = 0
        while (i < flat.length) { netInto(m, flat(i), flat(i + 1), merge); i += 2 }
      }
      entries(m)
    }
  }
}
