package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

/** Owner of everything an operator caches for its caller's actions:
  * persisted frames, lineage-cut leaves and broadcast variables.
  * Operators that cache take an implicit `Scope` and register into it;
  * the caller runs its actions and then closes the scope, which
  * releases every registration in reverse order:
  *
  * {{{
  * Scope(spark) { implicit s => Dedup.minhashPairs(docs).count() }
  * }}}
  *
  * An operator that needs a cache only for part of its own work opens
  * a nested scope for it, so that cache is released before the
  * operator returns while its result stays registered in the caller's
  * scope. Registration is thread-safe (operators build side results on
  * driver threads); `close` is idempotent.
  */
final class Scope(spark: SparkSession) extends AutoCloseable {
  private val releases = ArrayBuffer.empty[() => Unit]
  private var closed = false

  private def register(release: () => Unit): Unit = synchronized {
    require(!closed, "register on a closed Scope")
    releases += release
  }

  /** Lazy persist, released on close. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    register(() => { ds.unpersist(); () })
    ds.persist()
  }

  /** Persist `df`, materialize it with ONE job, and return a leaf over
    * the same RDD plus its row count. Downstream actions plan over the
    * flat `LogicalRDD` instead of re-analyzing the producer's logical
    * subtree (measured ~1.6 s of driver analysis per action for the
    * incremental-dedup pair chain at sf0.1), and the heavy subtree runs
    * once by construction instead of relying on exchange reuse. Jobs on
    * the leaf read the cached blocks; lineage-based recompute is kept,
    * so the leaf stays valid (only slower) after the scope closes.
    */
  def leaf(df: DataFrame): (DataFrame, Long) = {
    persist(df)
    val rdd = df.rdd
    val n = rdd.count()
    (spark.createDataFrame(rdd, df.schema), n)
  }

  /** Broadcast variable destroyed on close. */
  def broadcast[T: ClassTag](value: T): Broadcast[T] = {
    val b = spark.sparkContext.broadcast(value)
    register(() => b.destroy())
    b
  }

  def close(): Unit = {
    val todo = synchronized {
      if (closed) Nil else { closed = true; releases.reverseIterator.toList }
    }
    todo.foreach(_())
  }
}

object Scope {
  /** Run `body` with a fresh scope and close it afterwards, also when
    * `body` throws.
    */
  def apply[A](spark: SparkSession)(body: Scope => A): A = {
    val s = new Scope(spark)
    try body(s) finally s.close()
  }
}
