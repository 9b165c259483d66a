package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached

/** Sparse/lexical retrieval and corpus-LM scoring — the complement to the
  * dense ANN family in `Ann`: BM25 keyword search over an inverted-index
  * shape, reciprocal-rank fusion for hybrid (sparse + dense) retrieval,
  * token-window chunking for RAG/embedding pipelines, and a corpus-trained
  * bigram-LM quality score (the CCNet-style "perplexity bucket" signal).
  *
  * Determinism contract (shared with every llm_* oracle row): all ranking
  * scores are either pure integers or a FIXED sequence of IEEE-754 double
  * operations (+ - * / floor) on integer-derived values. Both engines
  * (Spark and the DuckDB oracle) produce bit-identical doubles for the
  * same op sequence; `ln`/`pow` are libm-dependent at the last ulp and
  * never appear. BM25's idf therefore uses the RATIONAL form
  * (N - df + 0.5)/(df + 0.5) — the same monotone ordering as the classic
  * log idf for a single term, and exact — and per-term scores are
  * micro-quantized to BIGINT before the order-independent integer sum.
  */
object Retrieval {

  /** Non-empty lower-cased whitespace tokens, as an array column. */
  private[llm] def toks(textCol: String) =
    expr(s"filter(split(lower($textCol), ' '), w -> length(w) > 0)")

  /** Materialize a BOUNDED frame once (driver collect → local relation).
    *
    * A query-batch-sized frame (feedback sets, candidate lists, expansion
    * tables — every shape under the probe-collect contract) that is
    * REFERENCED more than once in a downstream plan re-executes its whole
    * subtree per reference: Spark only reuses identical exchanges, and
    * these frames are typically consumed through different projections
    * (a broadcast of the ids here, a re-join of the payload there), so
    * nothing is reused and a corpus-pruned probe or expansion chain runs
    * 2-4× inside one action (measured: the PRF weights subtree executed
    * 3× in llm_prf_search's final job). Collecting once and re-creating a
    * local relation pins the subtree to exactly one execution; the
    * transfer is bounded by the query batch — the same contract every
    * probe collect in this file already rests on — and every downstream
    * consumer is order-insensitive (joins/aggregations), so results are
    * bit-identical.
    */
  private def materializeBounded(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Overlapping token-window chunking — the RAG/embedding front gate:
    * each document becomes ⌈n/stride⌉ chunks of `window` tokens starting
    * every `stride` tokens (the last chunks may be short; every token is
    * covered; consecutive chunks overlap by window − stride tokens).
    * Output: (id, chunk_id, start_token, n_tokens, chunk_text).
    *
    * Scale: entirely map-side — one `transform`+`explode` per row, no
    * shuffle, no per-doc window; chunk identity is a pure function of
    * (doc id, token offsets) so the layout is reproducible across
    * engines, partitionings and re-runs. At 100 TB this is a narrow
    * projection that runs at parquet-scan speed.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    df.select(col(idCol).as("id"), toks(textCol).as("ws"))
      .withColumn("starts", expr(
        s"""CASE WHEN size(ws) < 1 THEN CAST(array() AS ARRAY<INT>)
           |ELSE sequence(0, size(ws) - 1, $stride) END""".stripMargin))
      .select(col("id"), col("ws"), explode(col("starts")).as("start"))
      .select(
        col("id").as(idCol),
        expr(s"CAST(start DIV $stride AS BIGINT)").as("chunk_id"),
        col("start").cast("long").as("start_token"),
        least(lit(window), size(col("ws")) - col("start")).cast("long")
          .as("n_tokens"),
        expr(s"array_join(slice(ws, start + 1, $window), ' ')")
          .as("chunk_text"))
  }

  /** Okapi BM25 top-k keyword retrieval (k1 = 1.2, b = 0.75) with the
    * rational idf (N − df + ½)/(df + ½) and micro-quantized per-term
    * scores (see object doc). `queries` is a (qid, qtext) frame; output
    * is (query_id, rank, doc_id, score_micro) with rank ties broken by
    * doc id. Documents sharing no query term don't rank (BM25 gives them
    * score 0); `excludeIdEq` drops the candidate whose doc id equals the
    * query id (query-by-example symmetry with `Ann.bruteTopK`).
    *
    * Scale: the corpus token stream is immediately semi-joined against
    * the BROADCAST distinct query-term set, so only postings for query
    * terms ever aggregate or shuffle — the inverted-index access path,
    * without materializing the index. Doc lengths ride a partial-agg
    * groupBy on the high-cardinality doc id; df/idf live on the tiny
    * query-term key set; the final window partitions per query. Corpus
    * text never shuffles — only (doc, term) postings for matched terms.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String, k: Int,
      excludeIdEq: Boolean = false): DataFrame = {
    val tokens = docs
      .select(col(idCol).as("nid"), explode(toks(textCol)).as("word"))
    // doc length straight off the scan (size of the token array) — never
    // aggregate the exploded token stream just to count it
    val dl = docs.select(col(idCol).as("nid"),
        size(toks(textCol)).cast("long").as("dl"))
      .filter(col("dl") > 0)
    // N and avgdl over docs that HAVE tokens (empty docs can't match
    // any term anyway); one global scalar row, broadcast everywhere
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_tokens"))
    val qterms = bm25QueryTerms(queries, qidCol, qtextCol)
    val qwords = qterms.select(col("word")).distinct()
    val matched = tokens.join(broadcast(qwords), Seq("word"))
    val tf = matched.groupBy(col("nid"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfq = matched.select(col("nid"), col("word")).distinct()
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
    bm25Score(tf, dfq, dl, stats, qterms, k, excludeIdEq)
  }

  /** Number of word-hash bands the persisted postings are partitioned
    * into: coarse enough that a directory listing stays trivial (256
    * subdirs), fine enough that a query batch's terms select a small
    * fraction of them — a 5-term query touches ≤ 5/256 ≈ 2% of the
    * postings bytes.
    */
  val PostingBands = 256

  /** The postings band of a word — MUST match between build and probe
    * (it is the partition key the probe's IN-filter prunes on).
    */
  private def band(word: Column): Column =
    pmod(xxhash64(word), lit(PostingBands)).cast("int")

  /** Doc-hash bands of the FORWARD projection (the doc-keyed layout twin
    * of [[PostingBands]]): a feedback-doc set of f docs selects at most
    * min(f, 256) of the 256 partitions, so doc-keyed access (PRF expand)
    * prunes exactly like word-keyed access (probes) does.
    */
  val DocBands = 256

  /** The forward band of a doc id — MUST match between build and the
    * expand's IN-filter (same contract as [[band]]).
    */
  private def dband(nid: Column): Column =
    pmod(xxhash64(nid), lit(DocBands)).cast("int")

  /** Persistable BM25 inverted index: every corpus-side artifact the
    * inline [[bm25TopK]] derives per call — term postings `(word, nid,
    * tf)` carrying their word-hash `__band`, doc lengths `(nid, dl)`
    * (token-bearing docs only), per-term document frequency `(word,
    * df)`, and the one-row `(n_docs, total_tokens)` global — built ONCE
    * and parquet-roundtrippable, the same build-once/probe-many
    * lifecycle the ANN tiers' [[Ann.PqIndex]]/[[Ann.SqIndex]] carry.
    * At 100 TB the corpus is tokenized exactly once; the postings are
    * WRITTEN partitioned by `__band = pmod(xxhash64(word), 256)`, so a
    * query batch's term set becomes an IN-filter on the partition
    * column and each probe is a partition-pruned read of just the
    * bands its terms hash into — never a corpus-postings scan
    * (spec-pinned: selected partitions == the query batch's distinct
    * bands). Tokenization and counting are deterministic, so a loaded
    * index scores bit-identically to the inline path (spec-pinned and
    * shared-oracle-checked by `llm_bm25_index`).
    */
  case class InvIndex(
      postings: DataFrame, // (word, nid, tf, __band) — corpus-wide postings
      dl: DataFrame, // (nid, dl) — doc lengths, dl > 0
      dfTable: DataFrame, // (word, df) — per-term document frequency
      stats: DataFrame, // one row: (n_docs, total_tokens)
      maxImpact: DataFrame, // (word, ub_micro) — per-term max Okapi impact
      // (nid, word, tf, __dband) — the FORWARD projection: the same
      // (doc, term, tf) facts as `postings`, laid out doc-banded so
      // doc-keyed access (PRF expand needs the feedback docs' whole
      // vocabulary — no word-keyed pruning can pre-select it) reads
      // only the feedback set's bands instead of scanning the
      // corpus-sized word-banded postings once per query batch
      fwd: DataFrame
  ) {
    def save(path: String): Unit = {
      // df/stats/maxImpact/fwd all derive from postings+dl in the lazy
      // DAG a buildInvIndex/updateInvIndex composed — persist the two
      // shared roots so the six writes tokenize the corpus ONCE, not
      // once per artifact (on a real cluster the same role is played by
      // checkpointing the postings table; the parquet write itself is
      // that checkpoint for everything downstream of a load())
      withCached(postings, dl) {
        postings.write.partitionBy("__band")
          .mode("overwrite").parquet(s"$path/postings")
        fwd.write.partitionBy("__dband")
          .mode("overwrite").parquet(s"$path/fwd")
        dl.write.mode("overwrite").parquet(s"$path/dl")
        dfTable.write.mode("overwrite").parquet(s"$path/df")
        stats.write.mode("overwrite").parquet(s"$path/stats")
        maxImpact.write.mode("overwrite").parquet(s"$path/max_impact")
      }
    }
  }

  object InvIndex {
    def load(spark: org.apache.spark.sql.SparkSession, path: String): InvIndex =
      InvIndex(
        postings = spark.read.parquet(s"$path/postings"),
        dl = spark.read.parquet(s"$path/dl"),
        dfTable = spark.read.parquet(s"$path/df"),
        stats = spark.read.parquet(s"$path/stats"),
        maxImpact = spark.read.parquet(s"$path/max_impact"),
        fwd = spark.read.parquet(s"$path/fwd"))
  }

  /** The forward projection of a postings table (see [[InvIndex.fwd]]):
    * identical (nid, word, tf) facts, doc-banded layout key.
    */
  private def fwdOf(postings: DataFrame): DataFrame =
    postings.select(col("nid"), col("word"), col("tf"))
      .withColumn("__dband", dband(col("nid")))

  /** Per-term score upper bound `ub_micro(t) = max_d termMicro(t, d)` —
    * the MaxScore pruning artifact, derived from postings/dl/df/stats
    * with the SAME fixed IEEE op sequence as scoring (so the bound is
    * exact, not approximate: no document can out-score its term bounds).
    */
  private def buildMaxImpact(postings: DataFrame, dl: DataFrame,
      dfTable: DataFrame, stats: DataFrame): DataFrame =
    postings.select(col("word"), col("nid"), col("tf"))
      .join(dl, Seq("nid"))
      .join(dfTable, Seq("word"))
      .crossJoin(broadcast(stats))
      .withColumn("__tm", termMicro)
      .groupBy(col("word")).agg(max(col("__tm")).as("ub_micro"))

  /** One-time inverted-index build: tokenize the corpus once, fold to
    * postings/lengths/df/stats. (The per-call tokenization cost every
    * inline [[bm25TopK]] call pays, paid once.) Postings carry their
    * word-hash `__band` so [[InvIndex.save]] lays them out
    * partition-pruned for the probe.
    */
  def buildInvIndex(docs: DataFrame, idCol: String,
      textCol: String): InvIndex = {
    val postings = docs
      .select(col(idCol).as("nid"), explode(toks(textCol)).as("word"))
      .groupBy(col("nid"), col("word")).agg(count(lit(1)).as("tf"))
      .withColumn("__band", band(col("word")))
    val dl = docs.select(col(idCol).as("nid"),
        size(toks(textCol)).cast("long").as("dl"))
      .filter(col("dl") > 0)
    // coalesce: sum() over an EMPTY dl frame is NULL, and a NULL
    // total_tokens folded into an update would silently null every
    // score (TopKPairs skips null ords → zero-row probes, no error)
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("total_tokens"))
    val dfTable = postings.groupBy(col("word")).agg(count(lit(1)).as("df"))
    InvIndex(postings, dl, dfTable, stats,
      buildMaxImpact(postings, dl, dfTable, stats), fwdOf(postings))
  }

  /** Fold an out-of-sample document batch into a standing [[InvIndex]]
    * — the index UPDATE of the build-once lifecycle (lifecycle parity
    * with [[Ann.SqIndex]]'s `sqUpdate`): tokenize ONLY the new batch,
    * then merge every component additively. BM25 has no frozen-bounds
    * subtlety — postings and lengths of distinct doc ids are disjoint
    * unions, df is a per-word sum, stats a two-row add — so the folded
    * index is ROW-IDENTICAL to a full rebuild over old ∪ new docs
    * (spec-pinned componentwise, oracle-checked by `llm_bm25_update`
    * whose SQL scores the FULL corpus). Already-indexed doc ids in the
    * batch are DROPPED before the fold (an anti-join against the
    * standing doc-length table): a naive additive union would
    * double-count a re-added id — the dl join fans out and silently
    * doubles its scores — and an idempotent re-fold of the same batch
    * is exactly the replay pattern the store's merge path encourages,
    * so re-folding is a no-op here too (spec-pinned). The doc id is the
    * document's identity: re-ingesting an id with CHANGED text is not
    * an update (no inverted index folds deletes additively) — rebuild,
    * or version the id.
    *
    * Scale: the standing postings are never read or rewritten here —
    * the merge is a lazy union the next save lays out band-partitioned;
    * only the new batch tokenizes (the dedupe anti-join keys the batch
    * against dl on the doc id — a broadcast-sized batch side at any
    * corpus scale). df's full-outer join keys on the (vocab-sized) word
    * set, the usual partial-agg shapes.
    */
  def updateInvIndex(index: InvIndex, newDocs: DataFrame, idCol: String,
      textCol: String): InvIndex = {
    // dl holds every token-bearing indexed doc; empty docs contribute to
    // no component, so dl ids ARE the ids a re-fold could double-count
    val indexedIds = index.dl.select(col("nid").as("__indexed_id"))
    val freshDocs = newDocs.join(indexedIds,
      col(idCol) === col("__indexed_id"), "left_anti")
    val fresh = buildInvIndex(freshDocs, idCol, textCol)
    val dfMerged = index.dfTable.select(col("word"), col("df").as("__a"))
      .join(fresh.dfTable.select(col("word"), col("df").as("__b")),
        Seq("word"), "full_outer")
      .select(col("word"),
        (coalesce(col("__a"), lit(0L)) + coalesce(col("__b"), lit(0L)))
          .as("df"))
    val statsMerged = index.stats
      .select(col("n_docs").as("__n1"), col("total_tokens").as("__t1"))
      .crossJoin(broadcast(fresh.stats
        .select(col("n_docs").as("__n2"), col("total_tokens").as("__t2"))))
      .select((col("__n1") + col("__n2")).as("n_docs"),
        (col("__t1") + col("__t2")).as("total_tokens"))
    val postingsMerged = index.postings.unionByName(fresh.postings)
    val dlMerged = index.dl.unionByName(fresh.dl)
    // the per-term upper bounds CANNOT be folded additively: an update
    // shifts avgdl/N/df, which moves every term's impact — a stale bound
    // would break MaxScore's exactness. Recompute from the merged
    // components: an O(postings-scan) index-maintenance job, still no
    // corpus re-tokenize (the next save() materializes it once).
    InvIndex(
      postings = postingsMerged,
      dl = dlMerged,
      dfTable = dfMerged,
      stats = statsMerged,
      maxImpact = buildMaxImpact(postingsMerged, dlMerged, dfMerged,
        statsMerged),
      // union of the STANDING forward layout and the fresh batch's
      // projection — not fwdOf(postingsMerged), which would rebuild the
      // expand path's read on the word-banded postings and lose the
      // saved doc-banded layout's pruning until the next save
      fwd = index.fwd.unionByName(fresh.fwd))
  }

  /** Tombstone DELETE from a standing [[InvIndex]] — the takedown /
    * right-to-be-forgotten leg of the build-once lifecycle (the fold-in
    * twin of [[updateInvIndex]]): every component is additive, so the
    * deleted docs' OWN contributions — obtained by re-tokenizing just
    * the deleted docs, a batch-sized job (tokenization is deterministic,
    * so the re-tokenized postings are exactly what the index holds for
    * those ids) — subtract EXACTLY. Postings and lengths drop their rows
    * through a broadcast-tombstone anti-join (lazy — the next `save()`
    * materializes the compaction, and until then every probe's
    * partition-pruned read carries the anti-join map-side); df loses
    * each word's deleted-doc count (words at df = 0 vanish, matching
    * their postings all being gone); stats subtract the deleted docs'
    * n/total. Ids not actually in the index subtract nothing (semi-join
    * against the standing dl first), so deleting twice is a no-op, and
    * delete→re-add ([[updateInvIndex]] with the same docs) restores the
    * original components (both spec-pinned).
    *
    * The per-term MaxScore bounds are RECOMPUTED from the surviving
    * components, same as the update path: a delete moves N/avgdl/df,
    * which moves every term's impact BOTH ways (df shrinking raises
    * idf), so a stale bound may be stale-LOW — and a low bound would
    * un-exact MaxScore's pruning. One O(postings-scan) lazy job, no
    * corpus re-tokenize.
    *
    * The doc id is the document's identity (same contract as the update
    * path): delete takes the documents' CURRENT indexed text — deleting
    * with changed text would subtract postings the index never held.
    */
  def deleteFromInvIndex(index: InvIndex, deletedDocs: DataFrame,
      idCol: String, textCol: String): InvIndex = {
    // dl holds every token-bearing indexed doc — exactly the ids that
    // contribute to any component (empty docs are in no component).
    // dropDuplicates first: the semi-join preserves LEFT multiplicity, so
    // a tombstone batch carrying one id twice would double that doc's
    // subtracted dl/df/stats contributions (batch-sized, so the dedupe
    // is free relative to the re-tokenize that follows)
    val dead = deletedDocs.dropDuplicates(idCol).join(
      index.dl.select(col("nid").as("__indexed_id")),
      col(idCol) === col("__indexed_id"), "left_semi")
    val deadIdx = buildInvIndex(dead, idCol, textCol)
    val tomb = deadIdx.dl.select(col("nid"))
    val postings2 = index.postings
      .join(broadcast(tomb), Seq("nid"), "left_anti")
    val dl2 = index.dl.join(broadcast(tomb), Seq("nid"), "left_anti")
    // fail-fast on df underflow: under the id-is-identity contract the
    // subtraction is exact, so a NEGATIVE df can only mean the tombstone
    // batch carried text the index never held (the documented-undefined
    // delete-with-changed-text case) — raise instead of silently dropping
    // the corrupt word through the df > 0 filter. Per-row CASE on the
    // vocab-sized df table: free, and it stays inside codegen.
    val df2 = index.dfTable.join(
        broadcast(deadIdx.dfTable.select(col("word"), col("df").as("__d"))),
        Seq("word"), "left")
      .select(col("word"),
        (col("df") - coalesce(col("__d"), lit(0L))).as("df"))
      .select(col("word"), expr(
        """CASE WHEN df < 0 THEN CAST(raise_error(concat(
          |'deleteFromInvIndex: df underflow for word "', word,
          |'" — the tombstone batch text does not match the indexed text'))
          |AS BIGINT) ELSE df END""".stripMargin.replace("\n", " "))
        .as("df"))
      .filter(col("df") > 0)
    val stats2 = index.stats
      .select(col("n_docs").as("__n1"), col("total_tokens").as("__t1"))
      .crossJoin(broadcast(deadIdx.stats
        .select(col("n_docs").as("__n2"), col("total_tokens").as("__t2"))))
      .select((col("__n1") - col("__n2")).as("n_docs"),
        (col("__t1") - col("__t2")).as("total_tokens"))
    InvIndex(postings2, dl2, df2, stats2,
      buildMaxImpact(postings2, dl2, df2, stats2),
      fwd = index.fwd.join(broadcast(tomb), Seq("nid"), "left_anti"))
  }

  /** BM25 top-k against a prebuilt (possibly parquet-loaded)
    * [[InvIndex]] — the standing-index search path: no corpus
    * tokenization inside the call. The query batch's terms hash to
    * their postings bands DRIVER-SIDE (one bounded job over the
    * broadcast-sized query-term set — same contract as
    * [[Ann.ivfPqSearchPruned]]'s probe collect) and become an IN-filter
    * on the layout's partition column, so a loaded index reads ONLY the
    * bands the query terms live in (`PartitionFilters` in the plan,
    * spec-pinned); the broadcast semi-join then cuts those bands' other
    * words.
    */
  def bm25TopK(queries: DataFrame, qidCol: String, qtextCol: String,
      index: InvIndex, k: Int, excludeIdEq: Boolean): DataFrame = {
    val qterms = bm25QueryTerms(queries, qidCol, qtextCol)
    val qwords = qterms.select(col("word")).distinct()
    // ≤ PostingBands values by construction; the collect is over the
    // already-bounded query-term set (every broadcast(q) in this file
    // rests on that contract)
    val qbands = qwords.select(band(col("word")).as("__band")).distinct()
      .collect().map(_.getInt(0)).sorted
    // rebalance the pruned postings to session parallelism: a pruned
    // parquet read can surface arbitrarily FEW splits (the 500k-doc lane
    // packed 32 small postings files into ~3 splits and the downstream
    // qterms-multiply join serialized onto them — measured 247-253 s vs
    // 136-146 s inline; rebalanced 152 s), and everything after this point
    // multiplies rows per matched query, so the narrow read must not cap
    // the wide stage's tasks. The shuffle moves only query-term postings.
    val tf = index.postings.filter(col("__band").isin(qbands: _*))
      .select(col("word"), col("nid"), col("tf"))
      .join(broadcast(qwords), Seq("word"))
      .repartition(col("nid"))
    val dfq = index.dfTable.join(broadcast(qwords), Seq("word"))
    bm25Score(tf, dfq, index.dl, index.stats, qterms, k, excludeIdEq)
  }

  /** EXACT batch MaxScore (Turtle & Flood 1995, re-derived set-based for
    * a shuffle engine): BM25 top-k over a standing [[InvIndex]] that
    * prunes HEAD-TERM candidate generation without changing one output
    * bit. The plain probe's cost driver is the (query-term × posting)
    * multiply — a head term matching 80% of the corpus joins its whole
    * posting list against every query containing it (measured 210-259 s
    * for a 5k-query Zipf batch at the 500k lane). MaxScore kills the
    * multiply for head terms:
    *
    *  1. per (query, term) fetch the index's exact impact bound
    *     `ub_micro` and df (one bounded collect — the query-batch
    *     contract every probe in this file rests on);
    *  2. seed candidates from each query's HIGHEST-impact terms (under
    *     BM25, the rarest — small posting lists) until they can fill k
    *     slots; score the seeds EXACTLY (full q∩d contributions) and
    *     collect each query's k-th seed score `L0` — a lower bound on
    *     the final k-th score, because seeds are a subset of the
    *     eligible docs;
    *  3. driver-side, drop each query's longest low-impact term prefix
    *     whose summed bounds stay STRICTLY under L0: a doc containing
    *     only dropped terms scores ≤ that sum < L0 ≤ the final k-th
    *     score, so it cannot place (and cannot even tie — the
    *     inequality is strict). Everything else is an essential term;
    *  4. candidates = docs holding ≥1 essential term; score them
    *     exactly (dropped terms still CONTRIBUTE to candidate scores —
    *     only candidate GENERATION is pruned) and rank through the
    *     bounded top-k tail.
    *
    * Degenerate cases stay exact by construction: too few seed matches
    * → L0 = 0 → nothing dropped → the plain probe's candidate set.
    * Scores are the same order-independent integer sums over the same
    * posting rows, so the output is bit-identical to [[bm25TopK]]
    * (spec-pinned; same oracle SQL).
    *
    * Scale: the three probe jobs collect O(|queries| · terms) rows —
    * bounded by the QUERY BATCH, not the corpus (corpus growth only
    * raises `df`/`ub` values, never the row count). The practical
    * ceiling is [[MaxScorePairLimit]] (query, corpus-term) pairs per
    * driver pass ≈ a few hundred MB of driver heap; the phase-A collect
    * is capped at that limit, and a batch that overflows it is split
    * into query-hash chunks processed independently (per-query
    * independence makes the union exact), so an outsized batch degrades
    * to more jobs instead of a driver OOM. Head postings are SCANNED
    * (once per scoring pass, pruned to query bands) but joined against
    * the bounded candidate frame on the doc id instead of multiplied
    * per query; candidate volume is driven by the rare essential terms'
    * short posting lists.
    */
  def bm25TopKMaxScore(queries: DataFrame, qidCol: String, qtextCol: String,
      index: InvIndex, k: Int, excludeIdEq: Boolean): DataFrame = {
    // the driver-side phase tables read qids as longs (and the TopKPairs
    // tail needs long ids anyway) — fail fast instead of a mid-probe
    // ClassCastException; [[bm25TopK]] shares this id domain in practice
    // (every caller keys by a long doc id) but tolerates more, so the
    // contract is asserted only where it is load-bearing
    require(queries.schema(qidCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"bm25TopKMaxScore needs a BIGINT $qidCol column, got " +
        queries.schema(qidCol).dataType.sql)
    // r19 small-batch dispatch: below the calibrated crossover the three
    // MaxScore driver phases (phase-A bound collect, seed scoring, L0
    // collect) cost MORE than the posting multiply they prune — one
    // bounded volume-estimate job decides, exactly like [[bm25TopKAuto]]
    // (production MaxScore engines dispatch the same way: pruning is a
    // big-batch/head-term device). Both branches are bit-identical, so
    // the pick is purely a cost decision; the pruning algorithm itself
    // stays spec-pinned through [[maxScoreChunk]].
    if (bm25MultiplyVolume(queries, qidCol, qtextCol, index) >
        Bm25AutoVolumeThreshold)
      maxScoreRanked(queries, qidCol, qtextCol, index, k, excludeIdEq)
    else bm25TopK(queries, qidCol, qtextCol, index, k, excludeIdEq)
  }

  /** The ranked MaxScore pass, shared by [[bm25TopKMaxScore]] and
    * [[bm25TopKAuto]]'s big-batch branch (so neither pays the volume
    * estimate twice).
    */
  private def maxScoreRanked(queries: DataFrame, qidCol: String,
      qtextCol: String, index: InvIndex, k: Int,
      excludeIdEq: Boolean): DataFrame =
    maxScoreChunk(queries, qidCol, qtextCol, index, k, excludeIdEq,
      splitDepth = 8)._1

  /** Driver-phase ceiling: max (query, corpus-term) pairs collected per
    * MaxScore pass (~2M tuples ≈ 200 MB of driver rows). Batches whose
    * term-pair volume exceeds it are split into query-hash chunks.
    */
  val MaxScorePairLimit: Int = 1 << 21

  /** One MaxScore pass over (a chunk of) the query batch. Returns the
    * ranked frame AND the essential (word, query_id) pairs — the set
    * candidate generation actually scans — so specs can pin that a
    * droppable head term really LEFT candidate generation (a regression
    * that makes every term essential would otherwise pass the
    * bit-identity tests while silently un-pruning). `splitDepth` bounds
    * the overflow recursion; a chunk that still overflows with
    * splitDepth = 0 fails fast instead of collecting unbounded rows.
    */
  private[graft] def maxScoreChunk(queries: DataFrame, qidCol: String,
      qtextCol: String, index: InvIndex, k: Int, excludeIdEq: Boolean,
      splitDepth: Int, pairLimit: Int = MaxScorePairLimit)
      : (DataFrame, Seq[(String, Long)]) = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qterms = bm25QueryTerms(queries, qidCol, qtextCol)
    val qwords = qterms.select(col("word")).distinct()
    // phase A (bounded collect): per (query, corpus-term) the impact
    // bound, df, and postings band. Query words absent from the corpus
    // drop out here — they contribute to no score either way. The
    // limit+1 caps the driver transfer: overflow is DETECTED (length >
    // limit) without ever collecting an unbounded frame.
    val infoDf = qterms
      .join(index.maxImpact.join(broadcast(qwords), Seq("word")), Seq("word"))
      .join(index.dfTable.join(broadcast(qwords), Seq("word")), Seq("word"))
      .select(col("query_id"), col("word"), col("ub_micro"), col("df"),
        band(col("word")).as("__band"))
    val collected = infoDf.limit(pairLimit + 1).collect()
    if (collected.length > pairLimit) {
      require(splitDepth > 0, s"MaxScore query batch still exceeds " +
        s"$pairLimit (query, term) driver pairs after splitting — " +
        "shrink the batch")
      // outsized batch: count once (rare path), split into enough
      // query-hash chunks that the AVERAGE chunk fits, recurse (hash
      // imbalance is absorbed by the remaining depth), union — exact,
      // because every phase (seeds, L0, essential terms, scoring) is
      // per-query. The split hash is SALTED with the depth: an unsalted
      // re-split would re-partition colliding qids identically at every
      // level and never separate them.
      val nChunks = math.max(2L,
        (infoDf.count() + pairLimit - 1) / pairLimit).toInt
      val parts = (0 until nChunks).map { i =>
        maxScoreChunk(queries.filter(
            pmod(xxhash64(col(qidCol), lit(splitDepth)), lit(nChunks)) === i),
          qidCol, qtextCol, index, k, excludeIdEq, splitDepth - 1, pairLimit)
      }
      return (parts.map(_._1).reduce(_ unionByName _), parts.flatMap(_._2))
    }
    val info = collected
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))
    if (info.isEmpty) { // no query term matches the corpus: empty result
      return (rankDocs(spark.emptyDataset[(Long, Long, Long)]
        .toDF("query_id", "nid", "score_micro"), k), Seq.empty)
    }
    val byQuery = info.groupBy(_._1)
    val allWords = info.map(_._2).distinct.toSeq
    val allBands = info.map(_._5).distinct.toSeq

    def postingsFor(words: Seq[String], bands: Seq[Int]): DataFrame =
      index.postings.filter(col("__band").isin(bands: _*))
        .select(col("word"), col("nid"), col("tf"))
        .join(broadcast(words.toDF("word")), Seq("word"))

    // exact scores for an explicit (query_id, nid) candidate frame: ALL
    // q∩d term contributions (dropped terms included — candidacy is
    // pruned, scoring never is), restricted by the candidate join
    val dfq = index.dfTable.join(broadcast(qwords), Seq("word"))
    def scoreCand(cand: DataFrame): DataFrame =
      postingsFor(allWords, allBands)
        .repartition(col("nid"))
        .join(cand, Seq("nid"))
        .join(broadcast(qterms), Seq("query_id", "word"))
        .join(broadcast(dfq), Seq("word"))
        .join(index.dl, Seq("nid"))
        .crossJoin(broadcast(index.stats))
        .withColumn("term_micro", termMicro)
        .groupBy(col("query_id"), col("nid"))
        .agg(sum(col("term_micro")).as("score_micro"))

    def dropOwnDoc(cand: DataFrame): DataFrame =
      if (excludeIdEq) cand.filter(col("nid") =!= col("query_id")) else cand

    // phase-1 seeds: highest-impact terms first (ub desc, word asc for
    // determinism) until their df can fill the k slots (k+1 under
    // excludeIdEq — the query's own doc may hold one). A query whose
    // terms can't fill k seeds just keeps them all; L0 = 0 then keeps
    // everything essential, which is exact.
    val need = (if (excludeIdEq) k + 1 else k).toLong
    val seeds: Seq[(String, Long)] = byQuery.toSeq.flatMap { case (q, ts) =>
      val sorted = ts.sortBy(t => (-t._3, t._2)).toSeq
      var cum = 0L
      sorted.takeWhile { t => val more = cum < need; cum += t._4; more }
        .map(t => (t._2, q))
    }
    val seedWordSet = seeds.map(_._1).toSet
    val seedBands = info.filter(t => seedWordSet(t._2)).map(_._5).distinct.toSeq
    val cand1 = dropOwnDoc(
      postingsFor(seedWordSet.toSeq, seedBands)
        .join(broadcast(seeds.toDF("word", "query_id")), Seq("word"))
        .select(col("query_id"), col("nid")).distinct())
    // phase B (bounded collect): per-query k-th exact seed score
    val l0 = scoreCand(cand1)
      .groupBy(col("query_id"))
      .agg(graft.plans.TopKPairs.topkPairs(-col("score_micro"), col("nid"), k)
        .as("top"))
      .select(col("query_id"),
        when(size(col("top")) >= k,
          -element_at(col("top"), k).getField("ord"))
          .otherwise(lit(0L)).as("l0"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    // essential terms: everything outside the longest low-impact prefix
    // whose bound sum stays strictly under L0
    val essential: Seq[(String, Long)] = byQuery.toSeq.flatMap { case (q, ts) =>
      val bound = BigInt(l0.getOrElse(q, 0L))
      val sorted = ts.sortBy(t => (t._3, t._2)).toSeq // ub asc
      // BigInt: a Long sum of per-term bounds could wrap at extreme
      // corpus scale (df≈1 terms bound near idf·2.2e6 ≈ 1e17-1e18 at
      // 1e11+ docs), and a wrapped-negative cum would keep the takeWhile
      // dropping terms whose true bound sum exceeds L0 — unsound. The
      // list is driver-side and query-sized, so exact arithmetic is free.
      var cum = BigInt(0)
      val dropped = sorted.takeWhile { t =>
        cum += t._3; cum < bound
      }.map(_._2).toSet
      ts.filter(t => !dropped(t._2)).map(t => (t._2, q))
    }
    val essWordSet = essential.map(_._1).toSet
    val essBands = info.filter(t => essWordSet(t._2)).map(_._5).distinct.toSeq
    val cand2 = dropOwnDoc(
      postingsFor(essWordSet.toSeq, essBands)
        .join(broadcast(essential.toDF("word", "query_id")), Seq("word"))
        .select(col("query_id"), col("nid")).distinct())
    (rankDocs(scoreCand(cand2), k), essential)
  }

  /** The plain probe's posting-multiply volume for this batch —
    * Σ over distinct (query, term) pairs of df(term), i.e. exactly the
    * number of (posting × query) rows [[bm25TopK]]'s scoring join
    * produces. One bounded agg job (the df table is vocab-sized and the
    * query-term side broadcasts); the decision variable [[bm25TopKAuto]]
    * dispatches on.
    */
  private[graft] def bm25MultiplyVolume(queries: DataFrame, qidCol: String,
      qtextCol: String, index: InvIndex): Long =
    index.dfTable
      .join(broadcast(bm25QueryTerms(queries, qidCol, qtextCol)), Seq("word"))
      .agg(coalesce(sum(col("df")), lit(0L)).as("v"))
      .collect()(0).getLong(0)

  /** Posting-multiply volume above which [[bm25TopKMaxScore]] beats the
    * plain banded probe. Calibrated on the 500k-doc/200k-word Zipf lane
    * (BenchBm25, one session, round 16): 19-query batch V = 10.0M —
    * probe 4.2-4.4 s vs MaxScore 6.5-7.2 s; 171-query batch V = 67.4M —
    * probe 13.8-14.3 s vs MaxScore 15.8-15.9 s; 5,198-query batch
    * V = 1.97G — probe 454 s vs MaxScore 100-191 s. Probe time is
    * ~linear in V (≈ 0.23 s/M, intercept ≈ 0); MaxScore pays a ~10 s
    * three-phase constant with a ~2.5× shallower slope (≈ 0.09 s/M);
    * the fits cross at V ≈ 70M pairs — just above the 171-query shape,
    * where the measured gap is already inside noise (±10%). Both
    * branches are bit-identical, so a mispick costs time, never
    * correctness.
    */
  val Bm25AutoVolumeThreshold: Long = 70000000L

  /** BM25 top-k with the probe strategy PICKED PER BATCH: one bounded
    * volume-estimate job ([[bm25MultiplyVolume]]), then the plain banded
    * probe below [[Bm25AutoVolumeThreshold]] posting-pairs (small batches
    * — the three MaxScore phases cost more than the multiply they avoid)
    * and exact MaxScore above it (head-heavy batches — the multiply IS
    * the cost). Output is bit-identical either way (both paths share the
    * oracle row), so the pick is purely a performance decision.
    */
  def bm25TopKAuto(queries: DataFrame, qidCol: String, qtextCol: String,
      index: InvIndex, k: Int, excludeIdEq: Boolean): DataFrame =
    if (bm25MultiplyVolume(queries, qidCol, qtextCol, index) >
        Bm25AutoVolumeThreshold) {
      require(queries.schema(qidCol).dataType ==
        org.apache.spark.sql.types.LongType,
        s"MaxScore dispatch needs a BIGINT $qidCol column, got " +
          queries.schema(qidCol).dataType.sql)
      maxScoreRanked(queries, qidCol, qtextCol, index, k, excludeIdEq)
    } else bm25TopK(queries, qidCol, qtextCol, index, k, excludeIdEq)

  /** Persistable positional index — the phrase-search artifact the
    * bag-of-words [[InvIndex]] cannot express: `postings` holds one row
    * per (word, doc, positions) with positions as the sorted 0-based
    * token offsets of `word` in the doc, carrying the same word-hash
    * `__band` as the BM25 postings so a persisted layout gives phrase
    * probes the identical partition-pruned read; `docs` is the
    * token-bearing indexed doc-id set — the one extra artifact the
    * additive-update dedupe needs (the role [[InvIndex]]'s dl table
    * plays), so an update never scans the standing postings just to
    * learn which ids are already in. Same build-once / fold-updates /
    * save-compacts lifecycle as [[InvIndex]]; tokenization is the shared
    * deterministic [[toks]].
    */
  case class PosIndex(
      postings: DataFrame, // (nid, word, positions, __band)
      docs: DataFrame // (nid) — token-bearing indexed doc ids
  ) {
    def save(path: String): Unit = {
      // docs derives FROM postings (buildPosIndex projects the indexed-id
      // set off the postings table, not off the source docs), so
      // persisting postings really does make the two writes tokenize once
      withCached(postings) {
        postings.write.partitionBy("__band")
          .mode("overwrite").parquet(s"$path/postings")
        docs.write.mode("overwrite").parquet(s"$path/docs")
      }
    }
  }

  object PosIndex {
    def load(spark: org.apache.spark.sql.SparkSession, path: String): PosIndex =
      PosIndex(
        postings = spark.read.parquet(s"$path/postings"),
        docs = spark.read.parquet(s"$path/docs"))
  }

  /** One-time positional-index build (tokenize the corpus once). The
    * docs table is projected OFF the postings (a token-bearing doc has
    * ≥ 1 posting row, so `postings.nid` distinct IS the indexed-id set):
    * both artifacts share one tokenized root, so `save()`'s persist of
    * postings covers the docs write too — no second corpus tokenize.
    */
  def buildPosIndex(docs: DataFrame, idCol: String,
      textCol: String): PosIndex = {
    val postings = docs.select(col(idCol).as("nid"), posexplode(toks(textCol))
        .as(Seq("p", "word")))
      .groupBy(col("nid"), col("word"))
      .agg(sort_array(collect_list(col("p").cast("long"))).as("positions"))
      .withColumn("__band", band(col("word")))
    PosIndex(postings, postings.select(col("nid")).distinct())
  }

  /** Fold an out-of-sample document batch into a standing [[PosIndex]]
    * — additive-update parity with [[updateInvIndex]]: positional
    * postings of distinct doc ids are a DISJOINT union (no cross-doc
    * aggregate exists in this index — there is no df/stats to merge), so
    * the fold is row-identical to a rebuild over old ∪ new
    * (spec-pinned). Already-indexed ids in the batch are dropped first
    * (same anti-join dedupe and same id-is-identity contract as the
    * BM25 update: re-folding a batch is a no-op; re-ingesting an id with
    * changed text is a rebuild, not an update). Only the new batch
    * tokenizes; the standing postings are never read.
    */
  def updatePosIndex(index: PosIndex, newDocs: DataFrame, idCol: String,
      textCol: String): PosIndex = {
    val indexedIds = index.docs.select(col("nid").as("__indexed_id"))
    val freshDocs = newDocs.join(indexedIds,
      col(idCol) === col("__indexed_id"), "left_anti")
    val fresh = buildPosIndex(freshDocs, idCol, textCol)
    PosIndex(index.postings.unionByName(fresh.postings),
      index.docs.unionByName(fresh.docs))
  }

  /** Tombstone DELETE from a standing [[PosIndex]] — the positional twin
    * of [[deleteFromInvIndex]], and simpler: with no cross-doc artifacts
    * to subtract, the delete IS the broadcast-tombstone anti-join on
    * both tables (lazy; the next save compacts). `deletedIds` is a
    * one-column (nid) frame; ids not in the index drop nothing, so the
    * delete is idempotent by construction.
    */
  def deleteFromPosIndex(index: PosIndex, deletedIds: DataFrame): PosIndex = {
    val tomb = deletedIds.select(col(deletedIds.columns.head).as("nid"))
    PosIndex(index.postings.join(broadcast(tomb), Seq("nid"), "left_anti"),
      index.docs.join(broadcast(tomb), Seq("nid"), "left_anti"))
  }

  /** [[phraseTopK]] over a standing [[PosIndex]]. */
  def phraseTopK(queries: DataFrame, qidCol: String, qtextCol: String,
      index: PosIndex, k: Int): DataFrame =
    phraseTopK(queries, qidCol, qtextCol, index.postings, k)

  /** DISTINCT window starts covered by a positional posting row — the
    * union over its positions p of the intervals
    * [greatest(0, p − window + 1), p], computed per row from the sorted
    * `positions` array (r19). Replaces the explode-then-`.distinct()`
    * vote dedup in the proximity paths: positions are sorted ascending
    * and unique per (doc, word), so each position's new starts begin at
    * max(its own interval start, previous position + 1) — the classic
    * interval-union telescope — and the flattened list is distinct and
    * ascending BY CONSTRUCTION. The distinct that this replaces was a
    * full shuffle of the widest intermediate in the query (every
    * exploded (query, doc, word, start) vote row); this form is a pure
    * map-side higher-order expression, so the vote stream goes straight
    * into the partial-aggregating groupBy with one fewer Exchange.
    */
  private def coveredStarts(window: Int): Column = expr(
    s"""flatten(transform(positions, (p, i) -> sequence(
       |  CASE WHEN i = 0 THEN greatest(0L, p - ${window - 1}L)
       |       ELSE greatest(greatest(0L, p - ${window - 1}L),
       |                     element_at(positions, i) + 1L) END,
       |  p)))""".stripMargin)

  /** EXACT phrase top-k over positional postings: a document matches the
    * n-word phrase at start offset s iff for EVERY phrase slot i its
    * word occurs at position s + i; `n_occurrences` counts the distinct
    * start offsets and ranks (count DESC, doc ASC) through the bounded
    * top-k tail. Entirely relational — (query, slot, word) rows join the
    * positional postings, each hit normalizes to its implied start
    * `s = p − i`, and a start is a match iff all n slots voted for it
    * (`count per (query, doc, s) == n`) — so the same algebra runs
    * bit-identically in the oracle, with no array-fold whose order could
    * drift. Repeated phrase words are handled by construction (slots i
    * and j of the same word vote from the same posting row at different
    * shifts). Queries whose phrase has no tokens return no rows.
    *
    * Scale: postings explode positions ONLY for the broadcast query-word
    * set (the inverted access path again); the vote aggregate is a
    * partial-agg groupBy on (query, doc, start); a persisted banded
    * layout makes the read partition-pruned exactly like the BM25 probe.
    */
  def phraseTopK(queries: DataFrame, qidCol: String, qtextCol: String,
      posIndex: DataFrame, k: Int): DataFrame = {
    val qw = queries.select(col(qidCol).as("query_id"),
        posexplode(toks(qtextCol)).as(Seq("i", "word")))
    val nw = qw.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_words"))
    val qwords = qw.select(col("word")).distinct()
    // same band IN-filter contract as the BM25 probe: on a persisted
    // band-partitioned layout this collapses to a partition-pruned read
    // (bounded driver collect over the query-word set); on an in-memory
    // build it is a cheap row filter
    val qbands = qwords.select(band(col("word")).as("__band")).distinct()
      .collect().map(_.getInt(0)).sorted
    // hit rows are unique by construction: positions are distinct per
    // (doc, word) and each (query, slot) is one qw row, so no distinct
    // is needed before the vote count. The broadcast(qw) join on `word`
    // IS the query-word pruning (qwords is just its distinct words — a
    // second semi-join on it would filter nothing more), so the band
    // IN-filter plus this one join is the whole probe.
    val hits = posIndex.filter(col("__band").isin(qbands: _*))
      .join(broadcast(qw), Seq("word"))
      .select(col("query_id"), col("nid"), col("i"),
        explode(col("positions")).as("p"))
      .select(col("query_id"), col("nid"),
        (col("p") - col("i")).as("s"))
    val occ = hits.groupBy(col("query_id"), col("nid"), col("s"))
      .agg(count(lit(1)).as("k_i"))
      .join(broadcast(nw), Seq("query_id"))
      .filter(col("k_i") === col("n_words"))
      .groupBy(col("query_id"), col("nid"))
      .agg(count(lit(1)).as("n_occurrences"))
    occ.groupBy(col("query_id"))
      .agg(graft.plans.TopKPairs.topkPairs(-col("n_occurrences"), col("nid"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "q")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("q.id").as("doc_id"), (-col("q.ord")).as("n_occurrences"))
  }

  /** EXACT windowed proximity top-k over positional postings — the
    * sloppy-match tier between bag-of-words BM25 and the exact phrase: a
    * document matches at window start s iff EVERY distinct query word
    * occurs somewhere in the W consecutive token slots [s, s + W − 1]
    * (any order, any multiplicity — query words are set semantics here,
    * unlike the phrase's slot algebra); `n_windows` counts the distinct
    * matching starts (clamped at 0 so counting is well-defined near the
    * document head; clamping never changes WHETHER a doc matches, only
    * normalizes which start represents a head match) and ranks
    * (n_windows DESC, doc ASC) through the bounded top-k tail.
    *
    * Entirely relational — each posting hit at position p votes for the
    * ≤ W starts [max(0, p − W + 1), p] it covers, votes dedupe per
    * (query, doc, start, word), and a start matches iff its distinct
    * word count reaches the query's — so the same algebra replays
    * bit-identically in the oracle (`llm_proximity_search`). A phrase
    * match is always a proximity match at W ≥ phrase length over the
    * same words (the slots sit inside one window), spec-pinned.
    *
    * Scale: the inverted access path again — postings explode positions
    * only for the broadcast query-word set, then fan out ≤ W starts per
    * hit (W is small and fixed) into a partial-agg groupBy; a persisted
    * banded layout gives the probe the same partition-pruned read as
    * phrase/BM25.
    */
  def proximityTopK(queries: DataFrame, qidCol: String, qtextCol: String,
      posIndex: DataFrame, k: Int, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val qw = queries.select(col(qidCol).as("query_id"),
        explode(toks(qtextCol)).as("word"))
      .distinct()
    val nw = qw.groupBy(col("query_id")).agg(count(lit(1)).as("n_words"))
    // bounded by the query-word set — the shared probe collect contract
    val qbands = qw.select(band(col("word")).as("__band")).distinct()
      .collect().map(_.getInt(0)).sorted
    // votes are distinct (query, doc, word, start) rows BY CONSTRUCTION:
    // postings are unique per (doc, word), qw per (query, word), and
    // [[coveredStarts]] emits each covered start once — so the explode-
    // then-`.distinct()` dedup (a full shuffle of the widest intermediate)
    // is replaced by a map-side interval union (guide §2.4)
    val votes = posIndex.filter(col("__band").isin(qbands: _*))
      .join(broadcast(qw), Seq("word"))
      .select(col("query_id"), col("nid"),
        explode(coveredStarts(window)).as("s"))
    val occ = votes.groupBy(col("query_id"), col("nid"), col("s"))
      .agg(count(lit(1)).as("k_i"))
      .join(broadcast(nw), Seq("query_id"))
      .filter(col("k_i") === col("n_words"))
      .groupBy(col("query_id"), col("nid"))
      .agg(count(lit(1)).as("n_windows"))
    occ.groupBy(col("query_id"))
      .agg(graft.plans.TopKPairs.topkPairs(-col("n_windows"), col("nid"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "q")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("q.id").as("doc_id"), (-col("q.ord")).as("n_windows"))
  }

  /** [[proximityTopK]] over a standing [[PosIndex]]. */
  def proximityTopK(queries: DataFrame, qidCol: String, qtextCol: String,
      index: PosIndex, k: Int, window: Int): DataFrame =
    proximityTopK(queries, qidCol, qtextCol, index.postings, k, window)

  /** PROXIMITY-BOOSTED BM25 — the first composition where the two index
    * families meet in one ranking, the shape a production search stack
    * ships: BM25 top-`kCand` candidates from the standing [[InvIndex]],
    * each candidate's windowed proximity evidence counted over the
    * standing [[PosIndex]] ([[proximityTopK]]'s start-vote algebra,
    * restricted to the candidate pairs), and the final score
    * `boosted_micro = score_micro + boostMicro · n_windows` — a document
    * where all the query's words co-occur inside a `window`-token span
    * outranks an equal-BM25 document whose matches are scattered
    * (spec-pinned). Integer-exact throughout: the boost is an integer
    * multiply-add on the already-quantized BM25 micro score, so the
    * composition replays bit-identically in the oracle
    * (`llm_prox_rank`). Candidates with no full window keep their plain
    * BM25 score (n_windows = 0); ranking is (boosted DESC, doc ASC)
    * through the bounded top-k tail. Output: (query_id, rank, doc_id,
    * score_micro, n_windows, boosted_micro).
    *
    * Scale: the BM25 pass is the partition-pruned banded probe; the
    * proximity pass reads only the query words' bands of the positional
    * layout AND is restricted to the broadcast candidate set
    * (|queries|·kCand pairs) BEFORE the position explode, so window
    * counting touches candidate postings only — never the corpus. The
    * final boost join is candidate-sized on both sides.
    */
  def proximityRerank(queries: DataFrame, qidCol: String, qtextCol: String,
      inv: InvIndex, pos: PosIndex, kCand: Int, k: Int, window: Int,
      boostMicro: Long, excludeIdEq: Boolean): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(boostMicro >= 0, s"boostMicro must be >= 0, got $boostMicro")
    // |queries|·kCand scalar rows, referenced three times below (the
    // pair restriction, the boost base, the evidence rejoin) — persisted
    // so the banded BM25 probe computes once into the block cache
    // instead of once per reference. persist (not an eager collect):
    // it adds NO driver action — the first reference materializes it —
    // and the independent broadcast branches keep overlapping; the cache is
    // query-batch-bounded.
    // CACHE-LIFETIME CONTRACT (here and at every persist-without-
    // unpersist site in this file): the returned frame is lazy, so the
    // function cannot unpersist after the terminal action it never
    // sees. The CALLER owns cleanup — the bench/verify harnesses run
    // spark.catalog.clearCache() after each row's action; a long-lived
    // session composing these operators should unpersist (or
    // clearCache) at its own query boundaries, or repeated invocations
    // accumulate MEMORY_AND_DISK blocks until eviction.
    val cand = bm25TopK(queries, qidCol, qtextCol, inv, kCand, excludeIdEq)
      .select(col("query_id"), col("doc_id").as("nid"), col("score_micro"))
      .persist()
    val pairs = cand.select(col("query_id"), col("nid"))
    // distinct query words — SET semantics, same as proximityTopK
    val qw = queries.select(col(qidCol).as("query_id"),
        explode(toks(qtextCol)).as("word"))
      .distinct()
    val nw = qw.groupBy(col("query_id")).agg(count(lit(1)).as("n_words"))
    // bounded by the query-word set — the shared probe collect contract
    val qbands = qw.select(band(col("word")).as("__band")).distinct()
      .collect().map(_.getInt(0)).sorted
    // same map-side interval-union vote dedup as [[proximityTopK]] (r19):
    // the candidate-pair restriction keeps rows unique per (query, doc,
    // word), so no post-explode distinct is needed
    val votes = pos.postings.filter(col("__band").isin(qbands: _*))
      .join(broadcast(qw), Seq("word"))
      .join(broadcast(pairs), Seq("query_id", "nid"))
      .select(col("query_id"), col("nid"),
        explode(coveredStarts(window)).as("s"))
    val wins = votes.groupBy(col("query_id"), col("nid"), col("s"))
      .agg(count(lit(1)).as("k_i"))
      .join(broadcast(nw), Seq("query_id"))
      .filter(col("k_i") === col("n_words"))
      .groupBy(col("query_id"), col("nid"))
      .agg(count(lit(1)).as("n_windows"))
    // wins ≤ |cand| rows — broadcast keeps the evidence attach and the
    // final rejoin off the shuffle path (both sides are candidate-sized,
    // bounded by |queries|·kCand regardless of corpus size)
    val boosted = cand.join(broadcast(wins), Seq("query_id", "nid"), "left")
      .select(col("query_id"), col("nid"), col("score_micro"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"))
      .withColumn("boosted_micro",
        col("score_micro") + lit(boostMicro) * col("n_windows"))
    // rank on the boosted score, then rejoin the (candidate-sized)
    // evidence columns — TopKPairs carries (ord, id) only
    boosted.groupBy(col("query_id"))
      .agg(graft.plans.TopKPairs.topkPairs(-col("boosted_micro"), col("nid"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "q")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("q.id").as("nid"), (-col("q.ord")).as("boosted_micro"))
      .join(broadcast(boosted.select(col("query_id"), col("nid"),
        col("score_micro"), col("n_windows"))), Seq("query_id", "nid"))
      .select(col("query_id"), col("rank"), col("nid").as("doc_id"),
        col("score_micro"), col("n_windows"), col("boosted_micro"))
  }

  /** SNIPPET extraction (keyword-in-context) — the presentation layer a
    * RAG / search stack needs after ranking: for each (query, top-doc)
    * pair, the best `window`-token snippet — the window start holding
    * the MOST distinct query words, ties to the smallest start — with
    * its token offset, its distinct-query-word count, and the snippet
    * text. `results` is any ranked (query_id, doc_id) frame (BM25,
    * phrase, hybrid — every ranking tier here emits that shape).
    *
    * The start-vote algebra is [[proximityTopK]]'s (each hit position
    * votes for the ≤ W starts it covers, votes dedupe per (query, doc,
    * start, word)); the argmax is `max(struct(count, −start))` — the
    * (count DESC, start ASC) law with no Window, replayed in the oracle
    * as a QUALIFY row_number. Every result doc holds ≥ 1 query word
    * under any term-matching ranker, so the output has exactly one row
    * per input pair.
    *
    * Scale: snippeting is inherently forward-index access over the
    * TOP-K-SIZED doc set — so the candidate docs are semi-joined out of
    * the corpus by the broadcast result set first, and only those
    * |queries|·k documents ever tokenize; everything downstream is
    * partial aggregation on (query, doc, start). The corpus never
    * shuffles.
    */
  def extractSnippets(results: DataFrame, queries: DataFrame,
      qidCol: String, qtextCol: String, docs: DataFrame, idCol: String,
      textCol: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    // |queries|·k id pairs, referenced twice (candidate semi-join +
    // vote restriction) — persisted so the caller's ranking probe
    // computes once into the block cache, not per reference (no eager
    // action: the first reference materializes it). Cache lifetime:
    // caller-owned — see the contract note in [[proximityRerank]]
    val pairs = results.select(col("query_id"), col("doc_id").as("nid"))
      .persist()
    // top-k-doc-sized — persisted so the corpus semi-join + tokenize
    // runs once for its two consumers (vote source + snippet-text join)
    val cand = docs.join(broadcast(pairs.select(col("nid")).distinct()),
        col(idCol) === col("nid"), "left_semi")
      .select(col(idCol).as("nid"), toks(textCol).as("ws"))
      .persist()
    val qw = bm25QueryTerms(queries, qidCol, qtextCol)
    // r19: per-(pair, query-word) hit positions computed straight off the
    // token array with one higher-order filter/transform (replacing the
    // posexplode + word join), then the same map-side interval union as
    // the proximity paths ([[coveredStarts]]) — votes are distinct by
    // construction, so the post-explode `.distinct()` exchange is gone
    val votes = cand.join(broadcast(pairs), Seq("nid"))
      .join(broadcast(qw), Seq("query_id"))
      .select(col("query_id"), col("nid"), expr(
        "filter(transform(ws, (w, i) -> IF(w = word, CAST(i AS BIGINT), -1L)), x -> x >= 0)")
        .as("positions"))
      .select(col("query_id"), col("nid"),
        explode(coveredStarts(window)).as("s"))
    val best = votes.groupBy(col("query_id"), col("nid"), col("s"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("query_id"), col("nid"))
      .agg(max(struct(col("c").as("c"), (-col("s")).as("ns"))).as("b"))
      .select(col("query_id"), col("nid"),
        col("b.c").as("n_query_words"), (-col("b.ns")).as("snippet_start"))
    best.join(cand, Seq("nid"))
      .select(col("query_id"), col("nid").as("doc_id"),
        col("snippet_start"), col("n_query_words"),
        expr(s"array_join(slice(ws, CAST(snippet_start + 1 AS INT), $window), ' ')")
          .as("snippet"))
  }

  /** MULTI-snippet extraction — [[extractSnippets]]'s presentation big
    * sibling: per (query, top-doc) pair, up to `nSnippets` NON-OVERLAPPING
    * `window`-token snippets chosen greedily by the same (distinct-word
    * count DESC, start ASC) law — snippet 1 is the best window, snippet
    * i + 1 the best window at distance ≥ `window` from every earlier
    * pick — each with its 0-based match offsets inside the snippet
    * (comma-joined string, the highlight payload). Documents with fewer
    * non-overlapping candidate windows emit fewer snippets (never a
    * padded row). Greedy selection is a chain of `nSnippets` relational
    * argmax steps (`max(struct(count, −start))`, Window-free) over the
    * candidate-start table, each restricted by anti-overlap predicates
    * against the earlier picks — fully relational, so the oracle replays
    * it as the same chain of QUALIFY steps.
    *
    * Scale: identical access shape to [[extractSnippets]] — the corpus
    * semi-joins to the top-k-sized doc set before any tokenize; the
    * candidate table and each argmax step are (query, doc, start)-sized
    * partial aggregations; the offset join is chosen-window-sized.
    */
  def extractSnippetsMulti(results: DataFrame, queries: DataFrame,
      qidCol: String, qtextCol: String, docs: DataFrame, idCol: String,
      textCol: String, window: Int, nSnippets: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(nSnippets >= 1, s"nSnippets must be >= 1, got $nSnippets")
    // same two persists as [[extractSnippets]]: the ranked pairs (two
    // references) cache so the caller's probe runs once; the tokenized
    // candidate table (hit source + snippet-text join) caches its
    // semi-join + tokenize. Cache lifetime: caller-owned — see the
    // contract note in [[proximityRerank]]
    val pairs = results.select(col("query_id"), col("doc_id").as("nid"))
      .persist()
    val cand = docs.join(broadcast(pairs.select(col("nid")).distinct()),
        col(idCol) === col("nid"), "left_semi")
      .select(col(idCol).as("nid"), toks(textCol).as("ws"))
      .persist()
    val qw = bm25QueryTerms(queries, qidCol, qtextCol)
    // query-word hit positions in candidate docs (0-based), shared by
    // the start votes AND the offset payload. r19: positions are
    // computed per (pair, query-word) as ARRAYS straight off the token
    // array (one higher-order filter/transform replaces the posexplode +
    // word join), so the checkpoint is narrower (one row per hit word,
    // not per hit position) and the start votes dedupe map-side via
    // [[coveredStarts]] — the post-explode `.distinct()` exchange is gone
    val hits = cand.join(broadcast(pairs), Seq("nid"))
      .join(broadcast(qw), Seq("query_id"))
      .select(col("query_id"), col("nid"), expr(
        "filter(transform(ws, (w, i) -> IF(w = word, CAST(i AS BIGINT), -1L)), x -> x >= 0)")
        .as("positions"))
      .filter(size(col("positions")) > 0)
      .localCheckpoint() // two consumers; top-k-doc-sized (bounded)
    val cnt = hits
      .select(col("query_id"), col("nid"),
        explode(coveredStarts(window)).as("s"))
      .groupBy(col("query_id"), col("nid"), col("s"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // nSnippets argmax passes re-read it
    // greedy chain: pick i+1 = argmax over candidates non-overlapping
    // with every earlier pick ((c DESC, s ASC) via max(struct))
    def argmax(candidates: DataFrame): DataFrame =
      candidates.groupBy(col("query_id"), col("nid"))
        .agg(max(struct(col("c").as("c"), (-col("s")).as("ns"))).as("b"))
        .select(col("query_id"), col("nid"), col("b.c").as("c"),
          (-col("b.ns")).as("s"))
    val picks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var remaining = cnt
    for (i <- 1 to nSnippets) {
      val pick = argmax(remaining)
      picks += pick.withColumn("snippet_rank", lit(i.toLong))
      if (i < nSnippets)
        // the pick is exactly one row per (query, doc) pair — broadcast
        // it so the anti-overlap restriction never shuffles the
        // candidate-start table between argmax steps
        remaining = remaining.join(broadcast(
          pick.select(col("query_id"), col("nid"), col("s").as("__picked"))),
          Seq("query_id", "nid"))
          .filter(abs(col("s") - col("__picked")) >= window)
          .drop("__picked")
    }
    val chosen = picks.reduce(_ unionByName _)
    // chosen is ≤ nSnippets rows per pair — broadcast, so the offset
    // attach is a map-side join over the hit table
    val offsets = hits
      .select(col("query_id"), col("nid"), explode(col("positions")).as("p"))
      .join(broadcast(chosen.select(col("query_id"),
        col("nid"), col("s"), col("snippet_rank"))), Seq("query_id", "nid"))
      .filter(col("p") >= col("s") && col("p") <= col("s") + (window - 1))
      .groupBy(col("query_id"), col("nid"), col("snippet_rank"), col("s"))
      .agg(array_join(sort_array(collect_set(col("p") - col("s"))), ",")
        .as("match_offsets"))
    // chosen/offsets are ≤ nSnippets · |pairs| rows of scalar metadata —
    // broadcast THAT side both times; the doc-text side (cand) stays on
    // the probe side of the final join (top-k-sized but text-heavy)
    broadcast(chosen.join(broadcast(offsets.select(col("query_id"),
        col("nid"), col("snippet_rank"), col("s"), col("match_offsets"))),
        Seq("query_id", "nid", "snippet_rank", "s")))
      .join(cand, Seq("nid"))
      .select(col("query_id"), col("nid").as("doc_id"), col("snippet_rank"),
        col("s").as("snippet_start"), col("c").as("n_query_words"),
        col("match_offsets"),
        expr(s"array_join(slice(ws, CAST(s + 1 AS INT), $window), ' ')")
          .as("snippet"))
  }

  /** Pseudo-relevance-feedback query expansion (the RM3 shape) over a
    * standing [[InvIndex]]: probe BM25 top-`kDocs` feedback documents
    * per query, score EVERY term of the feedback docs with the same
    * Okapi impact expression the retrieval uses (corpus-wide df/dl/
    * stats — so expansion weight is exactly "how much would this term
    * contribute if queried"), drop the original query terms, and rank
    * the top `mTerms` per query on (Σ impact DESC, term ASC). Output:
    * (query_id, rank, term, expansion_micro) — the expanded-query table
    * a second-pass retrieval consumes.
    *
    * Determinism: the feedback set is the oracle-pinned BM25 top-k; the
    * expansion weight is the same micro-quantized integer sum; the term
    * tie-break is binary UTF-8 order (= DuckDB's default VARCHAR
    * collation), through the bounded [[graft.plans.TopKWords]] aggregate
    * — the string-keyed sibling of TopKPairs, so term ranking stays
    * Window-free like every other tier.
    *
    * Scale: the feedback (query, doc) set is |queries|·kDocs rows —
    * COLLECTED (one bounded driver transfer, the same query-batch
    * contract as every probe collect in this file) and re-broadcast, so
    * its doc ids become an IN-filter on the forward layout's `__dband`
    * partition column: the expand reads ≤ min(|feedback docs|,
    * [[DocBands]]) of the 256 doc bands of [[InvIndex.fwd]] instead of
    * scanning the corpus-sized word-banded postings once per batch (PRF
    * needs the feedback docs' whole vocabulary, which no WORD-keyed
    * pruning can pre-select — the classic forward-index access; the
    * doc-banded projection is its pruned layout). Everything downstream
    * is per-(query, term) partial aggregation.
    */
  def prfExpandTerms(queries: DataFrame, qidCol: String, qtextCol: String,
      index: InvIndex, kDocs: Int, mTerms: Int,
      excludeIdEq: Boolean): DataFrame = {
    // bounded by |queries|·kDocs — eager here so the first pass runs
    // once and its doc set can prune the forward read's partitions
    val fb = materializeBounded(
      bm25TopK(queries, qidCol, qtextCol, index, kDocs, excludeIdEq)
        .select(col("query_id"), col("doc_id").as("nid")))
    val dbands = fb.select(dband(col("nid")).as("__b")).distinct()
      .collect().map(_.getInt(0)).sorted
    prfScoreExpansion(
      index.fwd.filter(col("__dband").isin(dbands: _*))
        .select(col("nid"), col("word"), col("tf")),
      fb, queries, qidCol, qtextCol, index, mTerms)
  }

  /** The expand's scoring tail over any (nid, word, tf) access path —
    * shared by the pruned forward read (production) and the full
    * postings scan (the A/B reference, [[prfExpandTermsScan]]), so the
    * two can never drift.
    */
  private def prfScoreExpansion(access: DataFrame, fb: DataFrame,
      queries: DataFrame, qidCol: String, qtextCol: String,
      index: InvIndex, mTerms: Int): DataFrame = {
    val qterms = bm25QueryTerms(queries, qidCol, qtextCol)
    val scored = access
      .join(broadcast(fb), Seq("nid"))
      .join(index.dfTable, Seq("word"))
      .join(index.dl, Seq("nid"))
      .crossJoin(broadcast(index.stats))
      .withColumn("term_micro", termMicro)
      .join(broadcast(qterms), Seq("query_id", "word"), "left_anti")
      .groupBy(col("query_id"), col("word"))
      .agg(sum(col("term_micro")).as("expansion_micro"))
    scored.groupBy(col("query_id"))
      .agg(graft.plans.TopKWords.topkWords(-col("expansion_micro"),
        col("word"), mTerms).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.word").as("term"), (-col("t.ord")).as("expansion_micro"))
  }

  /** The pre-round-18 expand access path — ONE full scan of the
    * word-banded postings per batch, early-filtered by the broadcast
    * feedback set. Kept as the A/B reference lane (BenchBm25) and the
    * equivalence oracle for the pruned forward read; not the production
    * path.
    */
  private[graft] def prfExpandTermsScan(queries: DataFrame, qidCol: String,
      qtextCol: String, index: InvIndex, kDocs: Int, mTerms: Int,
      excludeIdEq: Boolean): DataFrame = {
    val fb = bm25TopK(queries, qidCol, qtextCol, index, kDocs, excludeIdEq)
      .select(col("query_id"), col("doc_id").as("nid"))
    prfScoreExpansion(
      index.postings.select(col("nid"), col("word"), col("tf")),
      fb, queries, qidCol, qtextCol, index, mTerms)
  }

  /** WEIGHTED-TERM BM25 top-k over a standing [[InvIndex]] — the query
    * form the RM3 second pass needs: `termQueries` is a (query_id, word,
    * weight_micro) frame and each matched term contributes
    * `(weight_micro · termMicro) div 10⁶` to the document's score — the
    * integer-exact form of weight × impact (both factors non-negative,
    * so Spark's truncating `div` ≡ DuckDB's flooring `//`). With every
    * weight at 10⁶ this degenerates to [[bm25TopK]] exactly. Overflow
    * headroom: the product stays under 2⁶³ while weight_micro ≤ 10⁶ and
    * per-term impacts stay under ~9·10¹² micro (idf ≈ 4·10⁶·N/df-ish
    * only at df ≪ N on 10¹²-doc corpora — rescale the weight unit
    * before that regime).
    *
    * Scale: identical access path to the unweighted probe — band
    * IN-filter partition-prunes the postings read, the broadcast term
    * set cuts the bands' other words, scoring shuffles only matched
    * postings.
    */
  def bm25TopKWeighted(termQueries: DataFrame, index: InvIndex, k: Int,
      excludeIdEq: Boolean): DataFrame = {
    // materialized once (query-batch contract): the weighted-term table
    // is referenced four times below (band collect, qwords twice, the
    // weight attach) and in the RM3 composition its subtree is the WHOLE
    // first-pass-probe + expansion chain — left lazy, that chain re-ran
    // per reference (measured 3× inside llm_prf_search's scoring job)
    val tq = materializeBounded(termQueries.select(col("query_id"),
      col("word"), col("weight_micro")))
    val qwords = tq.select(col("word")).distinct()
    // bounded by the query-term set — the same driver-collect contract
    // as every probe in this file
    val qbands = qwords.select(band(col("word")).as("__band")).distinct()
      .collect().map(_.getInt(0)).sorted
    val tf = index.postings.filter(col("__band").isin(qbands: _*))
      .select(col("word"), col("nid"), col("tf"))
      .join(broadcast(qwords), Seq("word"))
      .repartition(col("nid"))
    val dfq = index.dfTable.join(broadcast(qwords), Seq("word"))
    val terms = tf.join(broadcast(dfq), Seq("word"))
      .join(index.dl, Seq("nid"))
      .crossJoin(broadcast(index.stats))
      .join(broadcast(tq), Seq("word"))
    val kept =
      if (excludeIdEq) terms.filter(col("nid") =!= col("query_id")) else terms
    val scored = kept
      .withColumn("term_micro", termMicro)
      .withColumn("w_term", expr("(weight_micro * term_micro) DIV 1000000"))
      .groupBy(col("query_id"), col("nid"))
      .agg(sum(col("w_term")).as("score_micro"))
    rankDocs(scored, k)
  }

  /** The RM3 interpolated query model, as a (query_id, word,
    * weight_micro) table: original query terms at α uniform —
    * `α_micro div |q|` each — and [[prfExpandTerms]]' top-`mTerms`
    * expansion terms at (1 − α) normalized by the query's expansion
    * mass — `((10⁶ − α_micro) · e) div Σe`. All integer (the two
    * divisions are over non-negative operands, so truncation ≡ floor in
    * both engines); the two sets are disjoint by construction (expansion
    * anti-joins the original terms), so the union never double-keys.
    * Queries whose expansion mass is 0 keep zero-weight expansion rows
    * (they contribute nothing, in either engine).
    */
  def prfQueryWeights(queries: DataFrame, qidCol: String, qtextCol: String,
      index: InvIndex, kDocs: Int, mTerms: Int, alphaMicro: Long,
      excludeIdEq: Boolean): DataFrame = {
    require(alphaMicro >= 0 && alphaMicro <= 1000000L,
      s"alphaMicro must be in [0, 1000000], got $alphaMicro")
    val qterms = bm25QueryTerms(queries, qidCol, qtextCol)
    val nq = qterms.groupBy(col("query_id")).agg(count(lit(1)).as("__nq"))
    val orig = qterms.join(broadcast(nq), Seq("query_id"))
      .select(col("query_id"), col("word"),
        expr(s"$alphaMicro DIV __nq").cast("long").as("weight_micro"))
    // |queries|·mTerms rows, referenced twice below (mass + weight
    // attach) — materialized so the expansion chain (pruned forward
    // read + scoring) executes once, not per reference
    val ex = materializeBounded(
      prfExpandTerms(queries, qidCol, qtextCol, index, kDocs, mTerms,
        excludeIdEq))
    val mass = ex.groupBy(col("query_id"))
      .agg(sum(col("expansion_micro")).as("__mass"))
    val expd = ex.join(broadcast(mass), Seq("query_id"))
      .select(col("query_id"), col("term").as("word"),
        when(col("__mass") > 0,
          expr(s"((1000000 - $alphaMicro) * expansion_micro) DIV __mass"))
          .otherwise(lit(0L)).cast("long").as("weight_micro"))
    orig.unionByName(expd)
  }

  /** The CLOSED RM3 loop — pseudo-relevance-feedback retrieval: expand
    * each query through [[prfQueryWeights]] (first-pass BM25 feedback →
    * interpolated term weights) and re-query the SAME standing index
    * with the weighted form. One composed call; both passes ride the
    * partition-pruned probe path, and the whole chain is
    * integer-deterministic end to end (oracle-replayable as one SQL
    * chain — `llm_prf_search`).
    */
  def prfSearch(queries: DataFrame, qidCol: String, qtextCol: String,
      index: InvIndex, kDocs: Int, mTerms: Int, alphaMicro: Long, k: Int,
      excludeIdEq: Boolean): DataFrame =
    bm25TopKWeighted(
      prfQueryWeights(queries, qidCol, qtextCol, index, kDocs, mTerms,
        alphaMicro, excludeIdEq),
      index, k, excludeIdEq)

  /** The distinct (query_id, word) term set of a query batch. */
  private def bm25QueryTerms(queries: DataFrame, qidCol: String,
      qtextCol: String): DataFrame =
    queries
      .select(col(qidCol).as("query_id"), explode(toks(qtextCol)).as("word"))
      .distinct()

  /** The shared BM25 scoring + ranking tail: Okapi term scores over
    * (tf, df, dl, stats) restricted to the query terms, summed per
    * (query, doc), top-k through the bounded TopKPairs aggregate on the
    * NEGATED micro score ((-score ASC, nid ASC) ≡ (score DESC, nid ASC);
    * scores are non-negative so negation never wraps): a query
    * containing a head term scores a corpus-sized posting list, and a
    * per-query window sort would serialize that hot query through one
    * task. Fixed IEEE op sequence — mirrored verbatim in the oracle SQL.
    */
  private def bm25Score(tf: DataFrame, dfq: DataFrame, dl: DataFrame,
      stats: DataFrame, qterms: DataFrame, k: Int,
      excludeIdEq: Boolean): DataFrame = {
    val terms = tf.join(broadcast(dfq), Seq("word"))
      .join(dl, Seq("nid"))
      .crossJoin(broadcast(stats))
      .join(broadcast(qterms), Seq("word"))
    val kept =
      if (excludeIdEq) terms.filter(col("nid") =!= col("query_id")) else terms
    val scored = kept
      .withColumn("term_micro", termMicro)
      .groupBy(col("query_id"), col("nid"))
      .agg(sum(col("term_micro")).as("score_micro"))
    rankDocs(scored, k)
  }

  /** The ONE Okapi per-term impact expression — the fixed IEEE-754 op
    * sequence of the object doc, over columns (tf, df, dl, n_docs,
    * total_tokens). Shared by the inline/probe scoring, the MaxScore
    * restricted scoring, AND the index's per-term upper-bound build, so
    * the three can never drift by an ulp.
    */
  private def termMicro: Column = {
    val idf = ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val avgdl = col("total_tokens").cast("double") /
      col("n_docs").cast("double")
    val lenNorm = lit(1.0 - 0.75) +
      lit(0.75) * (col("dl").cast("double") / avgdl)
    val tfPart = (col("tf").cast("double") * lit(1.2 + 1.0)) /
      (col("tf").cast("double") + lit(1.2) * lenNorm)
    floor((idf * tfPart) * lit(1000000.0)).cast("long")
  }

  /** The shared ranking tail: bounded top-k per query on
    * (score DESC, nid ASC) over a (query_id, nid, score_micro) frame.
    */
  private def rankDocs(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.plans.TopKPairs.topkPairs(-col("score_micro"), col("nid"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("p.id").as("doc_id"), (-col("p.ord")).as("score_micro"))

  /** Reciprocal-rank fusion of two ranked lists (Cormack et al. 2009):
    * fused score = Σ ⌊10⁶ / (C + rank)⌋ over the lists a document appears
    * in (C = 60, the canonical constant) — PURE integer arithmetic, so
    * the fusion is exact in any engine. Inputs are (qid, nid, rank)
    * frames; output (query_id, rank, doc_id, rrf_micro), ties by doc id.
    *
    * Scale: one full-outer equi-join on (query, doc) between two already
    * top-k-sized lists (k rows per query each side — both tiny relative
    * to the corpus), ranked through the bounded [[graft.plans.TopKPairs]]
    * aggregate like every other ranking tail (the input is rank-bounded
    * so a window would not blow up here, but uniformity keeps the
    * no-Window lint total over all 11 tiers). The corpus itself is never
    * touched; fusion cost is O(queries × k). The fused score is
    * non-negative, so ranking on its negation ((−rrf ASC, nid ASC) ≡
    * (rrf DESC, nid ASC)) never wraps.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60): DataFrame = {
    def side(df: DataFrame, r: String) =
      df.select(col("qid").as("query_id"), col("nid"), col("rank").as(r))
    val fused = side(a, "rank_a").join(side(b, "rank_b"),
        Seq("query_id", "nid"), "full_outer")
      .withColumn("rrf_micro", expr(
        s"coalesce(1000000 DIV ($c + rank_a), 0) + " +
        s"coalesce(1000000 DIV ($c + rank_b), 0)").cast("long"))
    fused.groupBy(col("query_id"))
      .agg(graft.plans.TopKPairs.topkPairs(-col("rrf_micro"), col("nid"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("p.id").as("doc_id"), (-col("p.ord")).as("rrf_micro"))
  }

  /** Feature-hashing embedding (the "hashing trick", Weinberger et al.
    * 2009): each token hashes ONCE (`h64(token) mod P`, P = 10^9+7) and
    * component d mixes that hash with an odd multiplier —
    * `((h·(2d+1) + 7919·d) mod P) mod 2001 − 1000` — a deterministic
    * signed integer projection that needs no trained model, reproduces
    * bit-exactly in any engine, and drops straight into the
    * integer-quantized ANN stack (`Ann.bruteTopK` takes (id, vq, norm2)
    * as-is). A real neural embedder slots into the same
    * (id, Array[Long]) contract.
    *
    * Scale: entirely map-side — no explode, no shuffle; embedding a
    * 100 TB corpus is a projection at parquet-scan speed. The per-token
    * md5 is hoisted OUT of the per-dimension fold (the first form
    * digested every token once per dimension inside the interpreted
    * lambda — 16× the md5 work; measured 27.3 s → ~2 s on the rag row
    * at sf0.1). All mixing arithmetic stays under 2^63
    * ((P−1)·(2·15+1) ≈ 3.1·10^10).
    */
  def hashEmbed(df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    val h = "CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT)"
    df.select(col(idCol).as("nid"), toks(textCol).as("ws"))
      .withColumn("hs", expr(s"transform(ws, w -> $h % 1000000007)"))
      // fused dims × tokens loop (plans/HashEmbedVec, doGenCode) — the
      // folded transform/aggregate form ran interpreted per step
      .withColumn("vq", graft.plans.HashEmbedVec.hashEmbedVec(col("hs"), dim))
      .withColumn("norm2", expr(
        "aggregate(vq, 0L, (acc, v) -> acc + v * v)"))
      .select(col("nid"), col("vq"), col("norm2"))
  }

  /** Corpus-trained bigram-LM quality score — the determinism-safe
    * analogue of CCNet's LM-perplexity bucketing: train add-one-smoothed
    * bigram probabilities p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V) on the corpus
    * itself, score each document by its MEAN per-token probability in
    * parts-per-billion (arithmetic mean instead of the geometric mean a
    * log-space perplexity would take — `ln` is libm-dependent at the last
    * ulp, the per-token division+floor is exact; ordering is a faithful
    * "how typical is this document" signal either way), and bucket
    * head/tail against the corpus mean. Documents with fewer than two
    * tokens have no bigrams and drop out (they carry no LM evidence).
    * Output: (id, n_bigrams, mean_prob_ppb, bucket).
    *
    * Scale: the count tables c₁/c₂ are vocab-sized partial-agg groupBys
    * (Zipf-skewed keys collapse map-side); scoring is two gram-key
    * equi-joins — the hottest bigram is the classic skew key, which AQE
    * skew-split handles (or `Skew.saltedJoin` for a pinned path); the
    * corpus-mean comparison is one broadcast scalar. Text never rides a
    * shuffle — only (id, w₁, w₂) triples.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // per-doc bigram COUNTS (k) — repeated bigrams collapse before any
    // join, so scoring touches distinct (doc, bigram) triples only;
    // localCheckpoint() materializes the one explode for its three
    // consumers (train c2, derive c1, score) — the in-query analogue of
    // staging the bigram table, exactly the llm_full_pipeline pattern
    // bigrams via position explode + element_at — stays in whole-stage
    // codegen (a transform(..., i -> struct(...)) lambda runs interpreted
    // per element: measured 43x slower on this exact shape)
    val bgc = df.select(col(idCol).as("id"), toks(textCol).as("ws"))
      .select(col("id"), col("ws"), explode(expr(
        """CASE WHEN size(ws) < 2 THEN CAST(array() AS ARRAY<INT>)
          |ELSE sequence(1, size(ws) - 1) END""".stripMargin)).as("i"))
      .select(col("id"), expr("element_at(ws, i)").as("w1"),
        expr("element_at(ws, i + 1)").as("w2"))
      .groupBy(col("id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint()
    val c2 = bgc.groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("c2"))
    // context counts derive from the (much smaller) bigram count table —
    // never re-aggregate the bigram stream: c1(w1) = Σ_w2 c2(w1,w2)
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = df.select(explode(toks(textCol)).as("w")).distinct()
      .agg(count(lit(1)).as("v"))
    val perDoc = bgc
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      // one division, one multiply, one floor — exact in both engines
      .withColumn("ppb", floor(
        ((col("c2") + lit(1L)).cast("double") /
          (col("c1") + col("v")).cast("double")) * lit(1000000000.0))
        .cast("long"))
      .groupBy(col("id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("ppb")).as("sum_ppb"))
      .withColumn("mean_prob_ppb", expr("sum_ppb DIV n_bigrams"))
      .localCheckpoint()
    val corpusMean = perDoc
      .agg(expr("sum(sum_ppb) DIV sum(n_bigrams)").as("corpus_mean"))
    perDoc.crossJoin(broadcast(corpusMean))
      .select(col("id").as(idCol), col("n_bigrams"), col("mean_prob_ppb"),
        when(col("mean_prob_ppb") >= col("corpus_mean"), lit("head"))
          .otherwise(lit("tail")).as("bucket"))
  }
}
