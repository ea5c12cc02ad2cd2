package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.Shim
import org.apache.spark.storage.StorageLevel

/** Tracked persists and lineage cuts for operator-internal intermediates
  * (LSH buckets, shingle tables, loop rounds, …), and the round loop of the
  * iterative operators. Registering them here lets a long-lived session (a
  * notebook, a service) free everything an operator pinned with one
  * [[releaseAll]] once the returned DataFrame has been consumed
  * (`Verify`/`Bench` call it between queries). A released cache is
  * recomputed on demand, but a cut's blocks are its only copy: a frame
  * built on a cut must not be read after [[releaseAll]].
  */
object Caches {

  /** A tracked frame; `blocks` holds the data of a [[cut]], freed without
    * `RDD.unpersist`'s warning that a cut cannot be recomputed: releasing
    * it is the point.
    */
  private final case class Pin(df: Dataset[_], blocks: Option[RDD[_]]) {
    def free(): Unit = blocks.fold[Any](df.unpersist(false))(Shim.freeBlocks)
  }

  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[Pin]()

  /** Persist `df` (MEMORY_AND_DISK) and track it for [[releaseAll]]. */
  def cache[T](df: Dataset[T]): Dataset[T] = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    tracked.add(Pin(df, None))
    df
  }

  /** Materialize `df` now and cut its lineage, tracked for [[releaseAll]].
    * A persisted iterative plan still grows every round (each round
    * re-analyzes the whole history), so the loops cut. The cut is
    * `localCheckpoint`: its blocks live in executor storage and are lost
    * with an executor — on a cluster, swap it for `checkpoint()` against a
    * fault-tolerant directory.
    */
  def cut[T](df: Dataset[T]): Dataset[T] = {
    val c = df.localCheckpoint(true)
    tracked.add(Pin(c, blocksRead(c).headOption))
    c
  }

  /** Unpersist every tracked intermediate (non-blocking); empty the registry. */
  def releaseAll(): Unit =
    Iterator.continually(tracked.poll()).takeWhile(_ != null).foreach(_.free())

  /** A round of [[iterate]]: the next state, and whether it is the fixpoint. */
  final case class Round[S](state: S, fixpoint: Boolean = false)

  /** The round loop of the iterative operators: runs `step(state, round)`
    * for rounds 1 to `rounds`, stopping at the first fixpoint. A state is a
    * frame or a tuple holding frames. Once a round returns, the tracked
    * frames it superseded are released, except a cut the new state still
    * reads; that cut, and the final state, stay until [[releaseAll]].
    *
    * @param unconverged the `IllegalStateException` message when no round
    *                    reaches a fixpoint; `None` for a fixed round count
    */
  def iterate[S](init: S, rounds: Int, unconverged: Option[String] = None)(
      step: (S, Int) => Round[S]): S = {
    var round = Round(init)
    var r = 0
    while (!round.fixpoint && r < rounds) {
      r += 1
      val next = step(round.state, r)
      supersede(round.state, next.state)
      round = next
    }
    if (!round.fixpoint) unconverged.foreach(m => throw new IllegalStateException(m))
    round.state
  }

  private def framesOf(state: Any): Seq[Dataset[_]] = state match {
    case d: Dataset[_] => Seq(d)
    case p: Product => p.productIterator.flatMap(framesOf).toSeq
    case _ => Nil
  }

  /** The cut blocks `df`'s plan reads. */
  private def blocksRead(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }

  private def supersede(prev: Any, next: Any): Unit = {
    val kept = framesOf(next)
    val read = kept.flatMap(blocksRead)
    val gone = framesOf(prev).filterNot(d => kept.exists(_ eq d))
    tracked.forEach { p =>
      if (gone.exists(_ eq p.df) && !p.blocks.exists(b => read.exists(_ eq b)) &&
          tracked.remove(p)) p.free()
    }
  }
}
