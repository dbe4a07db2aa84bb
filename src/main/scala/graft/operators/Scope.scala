package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of every cache and checkpoint a query makes.
  *
  * Operators persist through [[persist]] and truncate lineage through
  * [[checkpoint]]; a caller brackets the whole build-and-consume of a query
  * in `Scope { ... }`, which releases, in a `finally`, every frame and
  * checkpoint RDD tracked inside its body — and nothing tracked outside it.
  * Scopes nest: an inner `Scope { }` releases only its own frames, so an
  * operator whose prologue (a preflight) fully consumes its caches can drop
  * them before the main plan runs while the caller's frames stay pinned.
  *
  * Operator results are lazy and read their persisted intermediates when
  * the caller drains them, so the Scope must enclose the consuming action,
  * not just the builder call. The stack is per thread: concurrent callers
  * never release each other's frames. Outside any open Scope nothing is
  * tracked — the frames stay persisted until the caller clears the session
  * (or the session ends), and no list grows. */
object Scope {

  private val open = new ThreadLocal[List[java.util.ArrayList[DataFrame]]] {
    override def initialValue(): List[java.util.ArrayList[DataFrame]] = Nil
  }

  def apply[T](body: => T): T = {
    val mine = new java.util.ArrayList[DataFrame]()
    open.set(mine :: open.get())
    try body
    finally {
      open.set(open.get().tail)
      // newest first: a frame derived from an older cached frame is gone
      // before its source is, so no dependent plan gets re-cached
      var i = mine.size() - 1
      while (i >= 0) { free(mine.get(i)); i -= 1 }
    }
  }

  /** `df.persist()`, released when the innermost open Scope closes. A frame
    * that is already persisted is only tracked: an operator can hand a
    * frame it cached inside an inner Scope to the caller's. */
  def persist(df: DataFrame): DataFrame =
    track(if (df.storageLevel == StorageLevel.NONE) df.persist() else df)

  /** `df.localCheckpoint(eager)`, whose checkpoint RDD is released when the
    * innermost open Scope closes. */
  def checkpoint(df: DataFrame, eager: Boolean): DataFrame =
    track(df.localCheckpoint(eager))

  /** Release a frame from [[persist]] or [[checkpoint]] before its Scope
    * closes — a fixed-point loop's previous round, a consumed preflight. */
  def release(df: DataFrame): Unit = {
    open.get().foreach(_.remove(df))
    free(df)
  }

  private def track(df: DataFrame): DataFrame = {
    open.get().headOption.foreach(_.add(df))
    df
  }

  // a checkpoint's blocks belong to the RDD under its LogicalRDD, which the
  // cache manager does not know; a persisted frame's to the cache manager
  private def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }
}
