package graft

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedDeque

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of what a query materializes. Every persist and eager
  * checkpoint of the engine goes through [[persisted]] and [[checkpointed]],
  * and `QueryScope { body }` frees, when `body` returns or throws, exactly
  * what was registered while it ran: each persisted DataFrame is
  * unpersisted (newest first, so a cache built on an earlier one goes
  * first) and each checkpoint's RDD drops its blocks. Freeing launches no
  * job and lists no file.
  *
  *   - Outside a scope, both calls are plain Spark calls and record nothing.
  *   - A scope frees only its own registrations: a caller's caches survive
  *     (a persist of a plan that is already cached records nothing), and a
  *     nested scope frees what was registered inside it, not its outer's.
  *   - Threads started inside a scope register into it; the scope is
  *     inherited as Spark's local properties are.
  *   - Checkpoints are held weakly: a loop that replaces its state each
  *     round leaves the superseded round to the ContextCleaner mid-query,
  *     and the scope frees what is still reachable when it ends.
  *
  * What a scope returns must not be read after it ends: its persists would
  * be recomputed and its checkpoints' blocks are gone. The runners
  * ([[RegistryRunner.run]], Bench's timed runs, [[Main.run]]) open one per
  * query or subcommand.
  */
object QueryScope {

  private final class Scope {
    @volatile var open = true
    val persisted = new ConcurrentLinkedDeque[DataFrame]
    val checkpoints = new ConcurrentLinkedDeque[WeakReference[RDD[_]]]
  }

  private val current = new InheritableThreadLocal[Scope]

  private def active: Option[Scope] = Option(current.get).filter(_.open)

  /** Runs `body` in a new scope, then frees what it registered. */
  def apply[A](body: => A): A = {
    val outer = current.get
    val scope = new Scope
    current.set(scope)
    try body
    finally {
      current.set(outer)
      scope.open = false
      scope.persisted.descendingIterator.forEachRemaining(_.unpersist())
      scope.checkpoints.forEach(r => Option(r.get).foreach(_.unpersist()))
      // a pool thread first started inside the scope keeps it as its
      // inherited value: closed, it records nothing and pins nothing
      scope.persisted.clear()
      scope.checkpoints.clear()
    }
  }

  /** `df` persisted at MEMORY_AND_DISK (lazily, as `Dataset.persist`). */
  def persisted(df: DataFrame): DataFrame = {
    val owner = active.filter(_ => df.storageLevel == StorageLevel.NONE)
    df.persist(StorageLevel.MEMORY_AND_DISK)
    owner.foreach(_.persisted.add(df))
    df
  }

  /** `df` eagerly local-checkpointed: its lineage is cut here. */
  def checkpointed(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    active.foreach(s => cp.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(rdd => s.checkpoints.add(new WeakReference[RDD[_]](rdd))))
    cp
  }
}
