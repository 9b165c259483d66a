package graft.llm

import graft.{Inputs, TestSpark}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the partition-pruned IVF-PQ probe ([[Ann.ivfPqSearchPruned]])
  * against the join-based probe it must equal, AND asserts the physical
  * pruning really happens: the layout scan's selected partitions are
  * exactly the probed cells, strictly fewer than the cells on disk —
  * the executable form of "at scale the code table is WRITTEN
  * partitioned by cell, so each probe is a partition-pruned read".
  */
class IvfPrunedProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("pruned probe ≡ join probe; scan reads ONLY the probed cells") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val e = Ann.withQuantized(emb, "embedding")
    val c = e.select(col("vec_id").as("nid"), col("vq"), col("norm2"))
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("vq"), col("norm2"))
    val idx = Ann.buildIvfPqIndex(c, step = 25, iters = 2)
    val layout = Inputs.scratchDir("graft-ivfcell-spec") + "/layout"
    Ann.writeCellLayout(idx, layout)

    val pruned = Ann.ivfPqSearchPruned(spark, q, idx, layout, k = 3, nProbe = 2)
    val joined = Ann.ivfPqSearch(q, idx, k = 3, nProbe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows(pruned) == rows(joined))

    // physical pruning: the layout scan selects exactly the probed-cell
    // partitions (AQE off for a plain FileSourceScanExec tree)
    TestSpark.withAqeDisabled {
      val probed = Ann.ivfAssign(q.select(col("qid").as("id"), col("vq"),
          col("norm2")), idx.coarse, nProbe = 2)
        .select(col("cell")).distinct().count()
      val totalCells = idx.cells.select(col("cell")).distinct().count()
      assert(probed < totalCells, "fixture degenerate: every cell probed")
      val pruned2 = Ann.ivfPqSearchPruned(spark, q, idx, layout, 3, 2)
      val scans = pruned2.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("ivfcell-spec")) => f
      }
      assert(scans.nonEmpty, "layout scan not found in the plan")
      scans.foreach { f =>
        assert(f.partitionFilters.nonEmpty, "no PartitionFilters on the layout scan")
        val sel = f.selectedPartitions.partitionCount
        assert(sel.toLong == probed,
          s"scan read $sel partitions, probed cells = $probed")
      }
    }
  }
}
