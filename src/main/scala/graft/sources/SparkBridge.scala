// The two `private[sql]` Spark entries this library needs, behind one
// access-package bridge (the one Delta Lake and Iceberg ship for the same
// need); nothing else from the sql package is touched.
//
// - `SessionClone`: cloneSession(), which copies the session state (conf,
//   temp views) into an isolated child session. graft stages table writes
//   through a clone so the mandatory TIMESTAMP_MICROS parquet override lives
//   only on the clone — no JVM-wide lock serializing unrelated writes, no
//   conf leak into the user's session (ManifestTable.stageIndexed).
// - `StateRelease`: StateStore.isLoaded / removeFromLoadedProvidersAndClose,
//   which unload the state stores of a streaming query that has ended
//   (StreamingOps.catchUp). Spark unloads them only at its maintenance tick,
//   60 s after the first store loads; until then every finished catch-up
//   keeps its rows on the heap.
package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore,
  StateStoreId, StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery

object SessionClone {
  def apply(s: SparkSession): SparkSession = s.cloneSession()
}

object StateRelease {

  /** Provider ids of every store under the query's `state/<op>/<part>/`
    * checkpoint directories, keyed by this run's id as Spark keys them:
    * the default store plus one per store subdirectory (the stream-join
    * stores; a RocksDB partition's `SSTs` yields an id that is never
    * loaded). Empty for a query without state. */
  def providerIds(q: StreamingQuery): Seq[StateStoreProviderId] = {
    val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
    val root = new Path(exec.resolvedCheckpointRoot, "state")
    val fs = root.getFileSystem(exec.sparkSession.sessionState.newHadoopConf())
    def subdirs(p: Path): Seq[String] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    def numeric(n: String) = n.nonEmpty && n.forall(_.isDigit)
    for {
      op <- subdirs(root) if numeric(op)
      part <- subdirs(new Path(root, op)) if numeric(part)
      store <- StateStoreId.DEFAULT_STORE_NAME +: subdirs(new Path(root, s"$op/$part"))
    } yield StateStoreProviderId(
      StateStoreId(root.toString, op.toLong, part.toInt, store), q.runId)
  }

  /** The query's providers still loaded in this JVM. */
  def loaded(q: StreamingQuery): Seq[StateStoreProviderId] =
    providerIds(q).filter(StateStore.isLoaded)

  /** Unload and close the providers of `q`, which must have ended. Every
    * committed version is already in the checkpoint, so a restart from it
    * reloads the same state. */
  def apply(q: StreamingQuery): Unit =
    loaded(q).foreach(StateStore.removeFromLoadedProvidersAndClose(_))
}
