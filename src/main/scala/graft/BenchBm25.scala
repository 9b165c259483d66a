package graft

import org.apache.spark.sql.functions._

/** BM25 lane A/B (measurement tool, outside the Verify/Bench contract):
  * times the INLINE corpus-tokenizing path against the STANDING-INDEX
  * banded probe, exact MaxScore, and the per-batch AUTO pick on the same
  * corpus and query batch, with the one-time index build priced
  * separately. `qmod` scales the query
  * batch (doc_id % qmod == 0 → |docs|/qmod queries): production probe
  * batches are small, and band pruning only shows once the batch's term
  * set stops covering every word-hash band — the registry row's %97
  * batch at 500k docs is ~5k queries and saturates all 256 bands by
  * itself. Also prints the batch's posting-multiply volume (the
  * [[llm.Retrieval.bm25TopKAuto]] decision variable), so threshold
  * calibration reads straight off the lane.
  *
  * `perturb=true` adds the band-pruning FALSIFICATION lane: the same
  * probe against the same postings REWRITTEN UNPARTITIONED (`__band`
  * demoted to a data column), so the band IN-filter stops pruning
  * partitions and every probe scans the full postings bytes — if the
  * banded layout is the win the scaladocs claim, `probe_flat` must
  * collapse toward the unpruned cost while `probe` holds.
  *
  * Usage: runMain graft.BenchBm25 [sfDir] [qmod] [reps] [perturb]
  */
object BenchBm25 {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val qmod = if (args.length > 1) args(1).toInt else 97
    val reps = if (args.length > 2) args(2).toInt else 3
    val perturb = args.length > 3 && args(3).toBoolean
    val spark = GraftSession.local(GraftSession.cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val queries = docs.filter(col("doc_id") % qmod === 0)
      .select(col("doc_id").as("qid"),
        expr("array_join(slice(filter(split(lower(text), ' '), " +
          "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
    println(s"[benchbm25] queries=${queries.count()} qmod=$qmod sf=$sfDir")

    val dir = Inputs.scratchDir("benchbm25")
    val tb = System.nanoTime()
    llm.Retrieval.buildInvIndex(docs, "doc_id", "text").save(dir)
    println(f"[benchbm25] index build+save: ${(System.nanoTime() - tb) / 1e9}%.2f s")
    val index = llm.Retrieval.InvIndex.load(spark, dir)
    val volume = llm.Retrieval.bm25MultiplyVolume(
      queries, "qid", "qtext", index)
    println(s"[benchbm25] multiply volume=$volume " +
      s"(auto threshold=${llm.Retrieval.Bm25AutoVolumeThreshold}, picks " +
      (if (volume > llm.Retrieval.Bm25AutoVolumeThreshold) "maxscore"
       else "probe") + ")")
    // flat postings for the falsification lane: same rows, no partition
    // layout — the band filter degrades to a row filter over all bytes.
    // The round-robin repartition is load-bearing: a straight rewrite of
    // the band-partitioned read PRESERVES band clustering, so parquet
    // row-group min/max skipping on the pushed __band IN-filter silently
    // re-creates ~the same byte pruning and the perturbation measures
    // nothing (observed: flat ≈ banded at the 19-query shape before the
    // shuffle was added)
    val flatIndex = if (perturb) {
      index.postings.repartition(32)
        .write.mode("overwrite").parquet(s"$dir/postings_flat")
      Some(index.copy(
        postings = spark.read.parquet(s"$dir/postings_flat")))
    } else None

    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val nInline = llm.Retrieval.bm25TopK(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 5, excludeIdEq = true).count()
      val t1 = System.nanoTime()
      val nProbe = llm.Retrieval.bm25TopK(queries, "qid", "qtext", index,
        k = 5, excludeIdEq = true).count()
      val t2 = System.nanoTime()
      val nMax = llm.Retrieval.bm25TopKMaxScore(queries, "qid", "qtext",
        index, k = 5, excludeIdEq = true).count()
      val t3 = System.nanoTime()
      val nAuto = llm.Retrieval.bm25TopKAuto(queries, "qid", "qtext",
        index, k = 5, excludeIdEq = true).count()
      val t4 = System.nanoTime()
      require(nInline == nProbe && nProbe == nMax && nMax == nAuto,
        s"row-count divergence: $nInline vs $nProbe vs $nMax vs $nAuto")
      val flat = flatIndex.map { fi =>
        val tf0 = System.nanoTime()
        val nFlat = llm.Retrieval.bm25TopK(queries, "qid", "qtext", fi,
          k = 5, excludeIdEq = true).count()
        require(nFlat == nProbe, s"flat divergence: $nFlat vs $nProbe")
        f", probe_flat ${(System.nanoTime() - tf0) / 1e9}%.2f s"
      }.getOrElse("")
      println(f"[benchbm25] rep $i: inline ${(t1 - t0) / 1e9}%.2f s, " +
        f"probe ${(t2 - t1) / 1e9}%.2f s, " +
        f"maxscore ${(t3 - t2) / 1e9}%.2f s, " +
        f"auto ${(t4 - t3) / 1e9}%.2f s$flat ($nProbe rows)")
    }

    // PRF expand access-path A/B: the full word-banded postings scan
    // (pre-round-18 path) vs the doc-banded forward projection read.
    // Both include the identical first-pass probe; the delta isolates
    // the expand's access path. The pruning win is governed by
    // |feedback docs| / DocBands — a 5k-query batch's 25k feedback docs
    // saturate all 256 bands (expect parity), a tens-of-queries batch
    // selects a small fraction (expect the win) — so print the band
    // count alongside.
    (1 to reps).foreach { i =>
      val s0 = System.nanoTime()
      val nScan = llm.Retrieval.prfExpandTermsScan(queries, "qid", "qtext",
        index, kDocs = 5, mTerms = 10, excludeIdEq = true).count()
      val s1 = System.nanoTime()
      val nFwd = llm.Retrieval.prfExpandTerms(queries, "qid", "qtext",
        index, kDocs = 5, mTerms = 10, excludeIdEq = true).count()
      val s2 = System.nanoTime()
      require(nScan == nFwd, s"prf divergence: $nScan vs $nFwd")
      val fbBands = llm.Retrieval.bm25TopK(queries, "qid", "qtext", index,
          k = 5, excludeIdEq = true)
        .select(pmod(xxhash64(col("doc_id")),
          lit(llm.Retrieval.DocBands)).cast("int").as("b"))
        .distinct().count()
      println(f"[benchbm25] prf rep $i: expand_scan ${(s1 - s0) / 1e9}%.2f s, " +
        f"expand_fwd ${(s2 - s1) / 1e9}%.2f s " +
        f"($nFwd rows, $fbBands/${llm.Retrieval.DocBands} doc bands)")
    }
    GraftSession.stop(spark)
  }
}
