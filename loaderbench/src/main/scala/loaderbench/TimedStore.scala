package loaderbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.PersistentGraphStore

/** The store under a `store` span per public call. Only the public entry
  * points are wrapped; the store's internal calls (a merge's own layer
  * write, a compaction's vacuum) either stay inside the calling span or
  * open a child span, never a second top-level one.
  */
final class TimedStore(spark: SparkSession, root: String, tracer: Tracer)
    extends PersistentGraphStore(spark, root) {

  override def merge(table: String, incoming: DataFrame, keyCols: Seq[String],
      compareCols: Seq[String], setCols: Seq[String],
      softDelete: Boolean): Map[String, Long] =
    tracer.span("store", s"merge:$table") {
      super.merge(table, incoming, keyCols, compareCols, setCols, softDelete)
    }

  override def upsertEdges(rawCandidates: DataFrame): Map[String, Long] =
    tracer.span("store", "upsertEdges")(super.upsertEdges(rawCandidates))

  override def read(table: String): Option[DataFrame] =
    tracer.span("store", s"read:$table")(super.read(table))

  override def compact(table: String, prune: Boolean): Option[Int] =
    tracer.span("store", s"compact:$table")(super.compact(table, prune))

  override def vacuum(table: String): Unit =
    tracer.span("store", s"vacuum:$table")(super.vacuum(table))

  override def vacuumAll(): Unit = tracer.span("store", "vacuumAll")(super.vacuumAll())

  override def pinVersions(): Unit = tracer.span("store", "pinVersions")(super.pinVersions())

  override def unpinVersions(): Unit =
    tracer.span("store", "unpinVersions")(super.unpinVersions())
}
