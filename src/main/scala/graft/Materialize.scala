package graft

import org.apache.spark.sql.DataFrame
import scala.collection.mutable.ArrayBuffer

/** The one way to cache an intermediate: `Materialize.scoped { held => … }`
  * owns every cache its body takes and releases them all (non-blocking
  * unpersist) when the body returns or throws, so a failed query leaves no
  * blocks behind in the shared session.
  *
  * `held(df)` persists `df` at the session's default storage level
  * (`spark.sql.defaultCacheStorageLevel`, MEMORY_AND_DISK).
  *
  * Fill rule: use `held.fill(df)` (persist, then one count) when several
  * consumers may touch the cache for the first time concurrently — a
  * broadcast build beside a probe scan, the legs of a self-join, jobs
  * launched by `Relational.overlapped`. Concurrent first touches of an
  * unmaterialized cache each recompute the whole pipeline behind it. A
  * cache whose first consumer is one action needs no fill.
  *
  * Release rule: nothing the body returns may read a held cache lazily,
  * because the cache is gone once the scope ends. Return an eager
  * `localCheckpoint(true)`, values computed on the driver, or output
  * already written. `held.release(df)` drops one cache before the scope
  * ends, e.g. when an iteration swaps the previous round's cache for the
  * next one. */
object Materialize {

  final class Held private[Materialize] () {
    private[Materialize] val live = ArrayBuffer.empty[DataFrame]

    def apply(df: DataFrame): DataFrame = {
      live += df
      df.persist()
    }

    def fill(df: DataFrame): DataFrame = {
      apply(df).count()
      df
    }

    def release(df: DataFrame): Unit = {
      live -= df
      df.unpersist(false)
    }
  }

  def scoped[A](body: Held => A): A = {
    val held = new Held
    try body(held) finally held.live.foreach(_.unpersist(false))
  }
}
